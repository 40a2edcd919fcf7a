"""Time-sliced (salted) as-of join must equal the plain union-window plan,
including on a synthetic hot key (north-rule skew handling)."""

import pytest
from pyspark.sql import functions as F

from nyxus_spark.operators import asof_join
from nyxus_spark.sources import probes, tokens_versions


def _norm(df):
    return (
        df.select("doc_id", "event_id", "ts", "matched_ts", "n_tok")
        .toPandas()
        .sort_values(["doc_id", "event_id"])
        .reset_index(drop=True)
    )


def test_sliced_equals_plain(spark, sf_dir):
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)
    plain = _norm(asof_join(p, v))
    for s in (2, 7, 16):
        sliced = _norm(asof_join(p, v, salt_slices=s))
        assert plain.equals(sliced), f"salt_slices={s} diverges from plain plan"


def test_sliced_with_hot_key(spark, sf_dir):
    # collapse EVERY version onto one hot doc_id — worst-case skew
    v = tokens_versions(spark, sf_dir).select(
        F.lit("hot").alias("doc_id"), "ts", "n_tok"
    ).dropDuplicates(["ts"])
    p = probes(spark, sf_dir).select(F.lit("hot").alias("doc_id"), "ts", "event_id")
    plain = _norm(asof_join(p, v))
    assert len(plain) > 0 and plain.equals(_norm(asof_join(p, v, salt_slices=8)))
    # the sliced plan must fan the hot key out over several window
    # partitions, where the plain plan keeps it in one. The steps after the
    # window are narrow, so each output row's partition id is its window
    # partition (matched_ts is selected so the window is not pruned away);
    # coalescing would fold the few small partitions into one.
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        def n_parts(df):
            pids = df.select(F.spark_partition_id().alias("pid"), "matched_ts")
            return pids.toPandas()["pid"].nunique()

        assert n_parts(asof_join(p, v)) == 1
        assert n_parts(asof_join(p, v, salt_slices=8)) >= 2
    finally:
        spark.conf.set(key, prev)


def test_sliced_with_explicit_bounds(spark, sf_dir):
    """ts_bounds supplied (the partition-stats path — no eager min/max scan)
    must give identical results, even when the bounds over-cover the data."""
    import datetime

    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")
    p = probes(spark, sf_dir)
    plain = _norm(asof_join(p, v))
    lo, hi = (
        v.select("ts").unionByName(p.select("ts"))
        .agg(F.min("ts"), F.max("ts")).first()
    )
    exact = _norm(asof_join(p, v, salt_slices=4, ts_bounds=(lo, hi)))
    assert plain.equals(exact)
    # over-wide bounds only change slice balance, never results
    wide = _norm(asof_join(
        p, v, salt_slices=4,
        ts_bounds=(lo - datetime.timedelta(days=365), hi + datetime.timedelta(days=365)),
    ))
    assert plain.equals(wide)
    # epoch-µs ints are accepted too (what Iceberg manifest stats provide)
    lo_us = int(lo.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    hi_us = int(hi.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    ints = _norm(asof_join(p, v, salt_slices=4, ts_bounds=(lo_us, hi_us)))
    assert plain.equals(ints)


def test_sliced_probe_before_any_version(spark):
    v = spark.createDataFrame(
        [("a", 100.0, 1), ("a", 200.0, 2)], "doc_id string, tsd double, n_tok int"
    ).select("doc_id", F.timestamp_seconds("tsd").alias("ts"), "n_tok")
    p = spark.createDataFrame(
        [("a", 50.0, 10), ("a", 150.0, 11), ("a", 250.0, 12)],
        "doc_id string, tsd double, event_id long",
    ).select("doc_id", F.timestamp_seconds("tsd").alias("ts"), "event_id")
    out = {r["event_id"]: r["n_tok"] for r in asof_join(p, v, salt_slices=4).collect()}
    assert out[10] is None and out[11] == 1 and out[12] == 2
