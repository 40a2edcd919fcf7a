"""Checkpoint-RESTART recovery: a streaming query stopped and relaunched as a
NEW query instance on the same checkpointLocation must recover its state
store — a duplicate arriving after the restart, whose first occurrence was
seen before the restart, must still be suppressed. This is the §2.7
resumability contract at the query level (the north rule's "resumable from
per-partition checkpoints"), stronger than the in-session AvailableNow
re-invocation tests: the second run is a different query object whose only
link to the first is the checkpoint directory."""

import os

import pytest

from nyxus_spark.streaming.dedup import DEDUP_IN_SCHEMA, dedup_stream


def _run_once(spark, src_dir, ckpt, out_dir, build=dedup_stream,
              schema=DEDUP_IN_SCHEMA):
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        build(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_state_survives_query_restart(spark, tmp_path):
    import pandas as pd

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(src_dir)

    # run 1: keys a, b arrive (a twice in-batch)
    pd.DataFrame(
        [("a", "d1", 0), ("a", "d2", 0), ("b", "d3", 0)],
        columns=["key", "doc_id", "batch"],
    ).to_parquet(os.path.join(src_dir, "part-000.parquet"))
    _run_once(spark, src_dir, ckpt, out_dir)
    first = spark.read.parquet(out_dir)
    assert first.count() == 2  # a (first arrival) + b

    # run 2: a NEW query instance on the same checkpoint; the new file
    # re-sends key a (must be suppressed by RECOVERED state) + new key c
    pd.DataFrame(
        [("a", "d4", 1), ("c", "d5", 1)],
        columns=["key", "doc_id", "batch"],
    ).to_parquet(os.path.join(src_dir, "part-001.parquet"))
    _run_once(spark, src_dir, ckpt, out_dir)

    rows = {
        (r["key"], r["doc_id"]) for r in spark.read.parquet(out_dir).collect()
    }
    keys = sorted(k for k, _ in rows)
    assert keys == ["a", "b", "c"], rows
    # the surviving 'a' is the PRE-restart first arrival, not the re-send
    assert ("a", "d1") in rows and ("a", "d4") not in rows
    # 'c' was admitted post-restart (the state store accepts new keys)
    assert ("c", "d5") in rows


def test_restart_does_not_reprocess_committed_files(spark, tmp_path):
    """The checkpoint's source offsets make the restart exactly-once over
    files: rerunning with NO new input appends nothing."""
    import pandas as pd

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(src_dir)
    pd.DataFrame(
        [("x", "d1", 0), ("y", "d2", 0)], columns=["key", "doc_id", "batch"]
    ).to_parquet(os.path.join(src_dir, "part-000.parquet"))
    _run_once(spark, src_dir, ckpt, out_dir)
    n1 = spark.read.parquet(out_dir).count()
    _run_once(spark, src_dir, ckpt, out_dir)  # no new files
    assert spark.read.parquet(out_dir).count() == n1 == 2


FEAT_SCHEMA = "doc_id string, tokens array<bigint>, n_tok bigint"


def test_featurize_stream_api_matches_batch(spark, tmp_path):
    """NyxusSpark.featurize_stream == batch featurize bit for bit, before
    and after a checkpointed restart that picks up a new file, with the
    engine's settings honoured by both: the default engine requests the
    kernel-only ENTROPY, the second one a first-order, texture and moment
    family mix, the third one a 128-bin IH histogram."""
    import pandas as pd

    from nyxus_spark.api import NyxusSpark

    docs = [(f"doc_{i}", [(i * 7 + j) % 50 for j in range(20 + i)], 20 + i)
            for i in range(16)]

    def batch(engine, rows):
        return engine.featurize(spark.createDataFrame(rows, FEAT_SCHEMA)) \
            .toPandas().sort_values("doc_id").reset_index(drop=True)

    engines = {
        "default": NyxusSpark(
            features=["MEAN", "COUNT", "ENERGY", "MIN", "MAX", "ENTROPY"]),
        "families": NyxusSpark(
            features=["MEAN", "ENTROPY", "GLCM_CONTRAST", "GLRLM_LRE",
                      "MOM_RAW_2"]),
        "depth128": NyxusSpark(features=["IH_MEAN_VAL", "MEAN"],
                               coarse_gray_depth=128),
    }
    for tag, nx in engines.items():
        src_dir = str(tmp_path / tag / "src")
        ckpt = str(tmp_path / tag / "ckpt")
        out_dir = str(tmp_path / tag / "out")
        os.makedirs(src_dir)

        def streamed():
            return spark.read.parquet(out_dir).toPandas().sort_values(
                "doc_id").reset_index(drop=True)

        pd.DataFrame(docs[:12], columns=["doc_id", "tokens", "n_tok"]) \
            .to_parquet(os.path.join(src_dir, "p0.parquet"))
        _run_once(spark, src_dir, ckpt, out_dir, nx.featurize_stream,
                  FEAT_SCHEMA)
        exp = batch(nx, docs[:12])
        pd.testing.assert_frame_equal(streamed()[exp.columns], exp,
                                      check_exact=True)

        # restart: a NEW query on the same checkpoint featurizes only the
        # new file and appends it
        pd.DataFrame(docs[12:], columns=["doc_id", "tokens", "n_tok"]) \
            .to_parquet(os.path.join(src_dir, "p1.parquet"))
        _run_once(spark, src_dir, ckpt, out_dir, nx.featurize_stream,
                  FEAT_SCHEMA)
        exp = batch(nx, docs)
        got = streamed()
        assert len(got) == len(docs), tag
        pd.testing.assert_frame_equal(got[exp.columns], exp, check_exact=True)

    # the depth is observable: a 64-bin engine gives other IH values than
    # the depth-128 stream (`got`, from the last engine)
    default64 = batch(NyxusSpark(features=["IH_MEAN_VAL"]), docs)
    assert (default64["IH_MEAN_VAL"] != got["IH_MEAN_VAL"]).any()

    with pytest.raises(ValueError, match="streaming"):
        nx.featurize_stream(spark.createDataFrame(docs[:1], FEAT_SCHEMA))
