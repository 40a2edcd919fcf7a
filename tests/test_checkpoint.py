"""Resumability: kill mid-run, resume, result equals a straight run
(BASELINE.md 'resume from per-partition checkpoints')."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from nyxus_spark.checkpoint import (
    checkpointed_write,
    committed_buckets,
    read_checkpointed,
)


def _input(spark, sf_dir):
    from nyxus_spark.features import extract_features
    from nyxus_spark.sources import tokens_versions

    return extract_features(
        tokens_versions(spark, sf_dir), ["MEAN", "MIN", "MAX"], keep_tokens=False
    )


def test_kill_and_resume_equals_straight_run(spark, sf_dir):
    df = _input(spark, sf_dir)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ckpt")
        # first attempt dies after 3 bucket commits
        with pytest.raises(RuntimeError, match="injected failure"):
            checkpointed_write(df, path, n_buckets=8, run_spec="r1", _fail_after=3)
        partial = committed_buckets(path)
        assert len(partial) == 3
        # resume: completes remaining buckets only
        summary = checkpointed_write(df, path, n_buckets=8, run_spec="r1")
        assert summary["skipped"] == 3 and summary["written"] == 5
        got = read_checkpointed(spark, path).orderBy("doc_id", "event_id").toPandas()
        exp = df.orderBy("doc_id", "event_id").toPandas()
        assert len(got) == len(exp)
        assert (got["MEAN"].to_numpy() == exp["MEAN"].to_numpy()).all()


def test_manifest_carries_lineage_and_metrics(spark, sf_dir):
    df = _input(spark, sf_dir).limit(50)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ckpt")
        checkpointed_write(df, path, n_buckets=2, run_spec="specA")
        ms = committed_buckets(path)
        assert set(ms) == {0, 1}
        for b, m in ms.items():
            assert len(m["lineage_id"]) == 16
            assert m["wall_ms"] > 0 and "rows_per_sec" in m
        # same spec → same lineage ids; different spec → different
        with open(os.path.join(path, "_manifest", "0.json")) as fh:
            l0 = json.load(fh)["lineage_id"]
        from nyxus_spark.checkpoint import _lineage_id

        assert l0 == _lineage_id("specA", 0) != _lineage_id("specB", 0)


def test_rerun_is_full_noop(spark, sf_dir):
    df = _input(spark, sf_dir).limit(20)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ckpt")
        checkpointed_write(df, path, n_buckets=4, run_spec="r")
        s2 = checkpointed_write(df, path, n_buckets=4, run_spec="r")
        assert s2["written"] == 0 and s2["skipped"] == 4


def test_resume_with_other_bucketing_is_refused(spark, sf_dir):
    """A resume that splits the keyspace differently would re-write keys
    that committed buckets already hold (more buckets) or skip keys that
    only uncommitted buckets hold (fewer), so it must raise instead."""
    df = _input(spark, sf_dir)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ckpt")
        with pytest.raises(RuntimeError, match="injected failure"):
            checkpointed_write(df, path, n_buckets=4, run_spec="r", _fail_after=2)
        for kwargs in ({"n_buckets": 16}, {"n_buckets": 2},
                       {"n_buckets": 4, "key_col": "event_id"}):
            field = "key_col" if "key_col" in kwargs else "n_buckets"
            with pytest.raises(ValueError, match=field):
                checkpointed_write(df, path, run_spec="r", **kwargs)
        assert len(committed_buckets(path)) == 2
        # the original split still resumes
        s = checkpointed_write(df, path, n_buckets=4, run_spec="r")
        assert s["skipped"] == 2 and s["written"] == 2
        assert read_checkpointed(spark, path).count() == df.count()


def _counted(spark, df):
    """`df` behind a pass-through mapInArrow that counts the rows it sees:
    how many upstream rows a write computed."""
    acc = spark.sparkContext.accumulator(0)

    def passthrough(batches):
        for rb in batches:
            acc.add(rb.num_rows)
            yield rb

    return df.mapInArrow(passthrough, df.schema), acc


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_upstream_computed_once_per_run(spark, sf_dir):
    """Each bucket job filters one cached computation of the input instead of
    re-running the upstream plan (kernels included) once per bucket."""
    base = _input(spark, sf_dir)
    n = base.count()
    spark.catalog.clearCache()
    with tempfile.TemporaryDirectory() as d:
        for nb in (1, 4, 16):
            df, acc = _counted(spark, base)
            path = os.path.join(d, f"ckpt{nb}")
            s = checkpointed_write(df, path, n_buckets=nb, run_spec="r")
            assert acc.value == n, f"n_buckets={nb}: {acc.value} upstream rows for {n}"
            assert s["rows_written"] == n == sum(
                m["rows"] for m in committed_buckets(path).values())
            assert _cache_empty(spark)
        # a killed run and its resume each compute the upstream at most once
        df, acc = _counted(spark, base)
        path = os.path.join(d, "killed")
        with pytest.raises(RuntimeError, match="injected failure"):
            checkpointed_write(df, path, n_buckets=4, run_spec="r", _fail_after=2)
        assert acc.value <= n
        assert _cache_empty(spark)
        df, acc = _counted(spark, base)
        s = checkpointed_write(df, path, n_buckets=4, run_spec="r")
        assert s["skipped"] == 2 and s["written"] == 2
        assert acc.value <= n
        assert _cache_empty(spark)
        assert read_checkpointed(spark, path).count() == n
        # nothing pending: no plan is run at all
        df, acc = _counted(spark, base)
        assert checkpointed_write(df, path, n_buckets=4, run_spec="r")["written"] == 0
        assert acc.value == 0


def test_empty_run_spec_is_refused(spark, sf_dir):
    df = _input(spark, sf_dir).limit(20)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "ckpt")
        with pytest.raises(ValueError, match="run_spec"):
            checkpointed_write(df, path, n_buckets=2, run_spec="")
        assert not os.path.exists(path)


def test_non_local_path_is_refused(spark, sf_dir, monkeypatch):
    """Manifests are written with driver-local file calls, so a cluster URI
    must raise before any Spark job instead of creating a local `hdfs:`
    directory while the data goes elsewhere; `file:` URIs work."""
    df = _input(spark, sf_dir).limit(20)
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as d:
        monkeypatch.chdir(d)
        sc.setJobGroup("ckpt-non-local", "non-local checkpoint paths")
        try:
            for uri, scheme in (("hdfs://nn:8020/ckpt", "hdfs"),
                                ("s3a://bucket/ckpt", "s3a"),
                                ("file://otherhost/tmp/ckpt", "file")):
                with pytest.raises(ValueError, match=f"scheme '{scheme}'"):
                    checkpointed_write(df, uri, n_buckets=2, run_spec="r")
                with pytest.raises(ValueError, match=f"scheme '{scheme}'"):
                    committed_buckets(uri)
                with pytest.raises(ValueError, match=f"scheme '{scheme}'"):
                    read_checkpointed(spark, uri)
            assert list(sc.statusTracker().getJobIdsForGroup("ckpt-non-local")) == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert os.listdir(d) == []
        path = os.path.join(d, "ckpt")
        s = checkpointed_write(df, "file://" + path, n_buckets=2, run_spec="r")
        assert s["written"] == 2
        assert sorted(os.listdir(os.path.join(path, "_manifest"))) == ["0.json", "1.json"]
        assert set(committed_buckets("file://" + path)) == set(committed_buckets(path)) == {0, 1}
        assert read_checkpointed(spark, "file:" + path).count() == df.count()
