"""write_training_order: range-partitioned global epoch permutation.

A sequential reader over the files in name order must see the exact
reproducible permutation the epoch-shuffle key defines — files are range
partitions (every key in file i < every key in file i+1) and each file is
internally sorted."""

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nyxus_spark.functions import epoch_shuffle_key
from nyxus_spark.sinks import write_training_order


def test_global_order_materialized(spark, tmp_path):
    df = spark.range(2000).select(F.col("id"))
    out = str(tmp_path / "epoch0")
    write_training_order(df, out, epoch=0, id_expr=F.col("id"), n_files=8)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) > 1  # actually range-partitioned, not one blob
    assert len(files) == 8  # an explicit count is kept, never coalesced
    seen = []
    prev_max = None
    for f in files:
        pdf = pd.read_parquet(f)
        keys = pdf["__order_key"].to_list()
        assert keys == sorted(keys), f  # sorted within the file
        if keys:
            if prev_max is not None:
                assert keys[0] >= prev_max  # file ranges don't overlap
            prev_max = keys[-1]
            seen.extend(pdf["id"].to_list())
    assert len(seen) == 2000 and len(set(seen)) == 2000

    # the materialized order IS the epoch-0 permutation, re-derivable
    exp = (spark.range(2000)
           .select("id", epoch_shuffle_key(F.col("id"), 0).alias("k"))
           .orderBy("k").select("id").toPandas()["id"].to_list())
    assert seen == exp


def test_epochs_differ_on_disk(spark, tmp_path):
    df = spark.range(300).select(F.col("id"))
    orders = []
    for e in (0, 1):
        out = str(tmp_path / f"e{e}")
        write_training_order(df, out, epoch=e, id_expr=F.col("id"), n_files=4)
        ids = []
        for f in sorted(glob.glob(f"{out}/part-*.parquet")):
            ids.extend(pd.read_parquet(f)["id"].to_list())
        orders.append(ids)
    assert sorted(orders[0]) == sorted(orders[1])
    assert orders[0] != orders[1]


def _files(out):
    return [pd.read_parquet(f)
            for f in sorted(glob.glob(f"{out}/part-*.parquet"))]


def _initial_ranges(spark):
    """The range count of a range exchange with no explicit count."""
    return int(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
        or spark.conf.get("spark.sql.shuffle.partitions"))


def _assert_range_files(files):
    """Sorted, non-empty files whose key ranges do not overlap."""
    prev_max = None
    for pdf in files:
        keys = pdf["__order_key"].to_list()
        assert keys and keys == sorted(keys)
        if prev_max is not None:
            assert keys[0] >= prev_max
        prev_max = keys[-1]


def test_default_file_count_follows_the_data(spark, tmp_path):
    """Without n_files, AQE merges adjacent ranges of the exchange: a small
    epoch gets fewer files than a fixed count, never more than
    the initial shuffle partition count, and the same rows in the same
    global order as an explicit 32-file write."""
    df = spark.range(2000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    write_training_order(df, str(tmp_path / "fixed"), epoch=3,
                         id_expr=F.col("id"), n_files=32)
    write_training_order(df, str(tmp_path / "auto"), epoch=3,
                         id_expr=F.col("id"))
    fixed, auto = _files(tmp_path / "fixed"), _files(tmp_path / "auto")
    _assert_range_files(auto)
    _assert_range_files(fixed)
    assert 1 <= len(auto) <= _initial_ranges(spark) and len(auto) < len(fixed)
    pd.testing.assert_frame_equal(
        pd.concat(auto, ignore_index=True), pd.concat(fixed, ignore_index=True))


def test_default_without_coalescing_is_one_file_per_range(spark, tmp_path):
    """With AQE's partition coalescing off, the default writes one file per
    range of spark.sql.shuffle.partitions, in the same global order."""
    df = spark.range(2000).select(F.col("id"))
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        write_training_order(df, str(tmp_path / "e"), epoch=0,
                             id_expr=F.col("id"))
    finally:
        spark.conf.set(key, was)
    files = _files(tmp_path / "e")
    _assert_range_files(files)
    assert len(files) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    exp = (df.select("id", epoch_shuffle_key(F.col("id"), 0).alias("k"))
           .orderBy("k").toPandas()["id"].to_list())
    assert pd.concat(files)["id"].to_list() == exp
