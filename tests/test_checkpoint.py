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
