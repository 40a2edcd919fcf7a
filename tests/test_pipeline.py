"""The one-call pipeline (nyxus_spark/pipeline.py) vs the oracle-gated
composition queries: clean_corpus configured like the `corpus_clean` driver
gate must reproduce that gate's per-doc outputs exactly (the gate itself is
DuckDB-oracle-checked every round, so this transitively gates the pipeline),
plus glue-level contracts (provenance, stage counts, packing, epoch write)."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from nyxus_spark.pipeline import PipelineConfig, clean_corpus

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

DIGEST = ("CASE WHEN n_tok = 0 THEN 0L ELSE "
          "aggregate(zip_with(tokens, sequence(1, n_tok),"
          " (t, i) -> cast(t as bigint) * i), 0L, (a, x) -> a + x)"
          " % 1000003 END")


def test_pipeline_matches_corpus_clean_gate(spark):
    aug = entrymod._aug_corpus(spark, SF)
    res = clean_corpus(
        aug,
        PipelineConfig(min_tokens=0, exact=True, near_jaccard=0.5,
                       segment_delim=104, boilerplate_min_docs=2,
                       drop_boilerplate=False),
    )
    gate = entrymod._q_corpus_clean(spark, SF).select(
        "doc_id", "segs_kept", "clean_n_tok", "clean_tok_sum", "clean_digest"
    ).toPandas().set_index("doc_id")

    got = res.docs.select(
        "doc_id", "n_tok",
        F.expr("aggregate(tokens, 0L, (a, x) -> a + x)").alias("tok_sum"),
        F.expr(DIGEST).alias("digest"),
    ).toPandas().set_index("doc_id")

    # survivors with >= 1 kept segment are exactly the pipeline's docs
    exp_ids = set(gate[gate["segs_kept"] > 0].index)
    assert set(got.index) == exp_ids
    for d in exp_ids:
        assert int(got.loc[d, "n_tok"]) == int(gate.loc[d, "clean_n_tok"]), d
        assert int(got.loc[d, "tok_sum"]) == int(gate.loc[d, "clean_tok_sum"]), d
        assert int(got.loc[d, "digest"]) == int(gate.loc[d, "clean_digest"]), d

    # provenance partitions the dropped ids by stage: exact+near drops are
    # precisely (aug corpus) minus (the gate's survivor rows)
    prov = res.provenance.toPandas()
    dropped_dedup = set(
        prov[prov["drop_stage"].isin(["4_exact_dup", "5_near_dup"])]["doc_id"])
    aug_ids = {r["doc_id"] for r in aug.select("doc_id").collect()}
    assert dropped_dedup == aug_ids - set(gate.index)
    # all-segment-dup docs are the gate rows with zero kept segments
    dropped_seg = set(
        prov[prov["drop_stage"] == "6_all_segments_dup"]["doc_id"])
    assert dropped_seg == set(gate[gate["segs_kept"] == 0].index)
    # nothing dropped twice
    assert len(prov) == len(set(prov["doc_id"]))


def test_pipeline_filters_sampling_packing(spark, tmp_path):
    rows = []
    for i in range(40):
        toks = [i * 20 + j for j in range(20)]  # disjoint ranges: only the
        rows.append((f"doc_{i}", toks, 20, "web" if i % 2 else "book"))
        # injected bench copy shares any 8-gram
    rows.append(("doc_short", [1, 2], 2, "web"))          # length drop
    rows.append(("doc_40", rows[0][1], 20, "web"))        # exact dup of doc_0
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    bench = spark.createDataFrame(
        [("b0", rows[3][1], 20)], "doc_id string, tokens array<int>, n_tok int")

    res = clean_corpus(
        df,
        PipelineConfig(min_tokens=5, exact=True, near_jaccard=None,
                       sample_rate=0.8, pack_capacity=16),
        bench_df=bench,
    )
    counts = {r["drop_stage"]: r["docs_dropped"]
              for r in res.stage_counts().collect()}
    assert counts["1_length"] == 1
    assert counts["3_contaminated"] == 1      # doc_3 overlaps the bench 8-grams
    assert counts["4_exact_dup"] == 1         # doc_40 loses to doc_0
    kept = res.docs.count()
    assert kept == 42 - 1 - 1 - 1 - counts.get("7_sample", 0)

    # packing covers every kept doc, offsets exact and gap-free per shard
    packs = res.packs
    assert packs.count() == kept
    from pyspark.sql.window import Window

    bad = packs.withColumn(
        "nxt",
        F.lead("pack_start").over(
            Window.partitionBy("pack_shard").orderBy("pack_start")),
    ).filter(F.col("nxt").isNotNull()
             & (F.col("nxt") != F.col("pack_start") + F.col("n_tok")))
    assert bad.count() == 0

    # determinism: the same config re-derives the identical sample
    res2 = clean_corpus(
        df,
        PipelineConfig(min_tokens=5, exact=True, near_jaccard=None,
                       sample_rate=0.8, pack_capacity=16),
        bench_df=bench,
    )
    assert ({r["doc_id"] for r in res.docs.select("doc_id").collect()}
            == {r["doc_id"] for r in res2.docs.select("doc_id").collect()})

    # epoch write: full permutation materialized, globally ordered files
    out = str(tmp_path / "epoch0")
    res.write_epoch(out, epoch=0, n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == kept
    assert "__order_key" in back.columns


def test_pipeline_semantic_dedup(spark):
    import pytest

    rows = [(f"doc_{i}", [i * 10 + j for j in range(6)], 6, "web")
            for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    # doc_1 and doc_2 carry identical quantized embeddings -> cosine 1.0,
    # higher id drops; doc_0 is orthogonal and survives
    emb = spark.createDataFrame(
        [("doc_0", [127, 0, 0, 0]), ("doc_1", [0, 100, 50, 0]),
         ("doc_2", [0, 100, 50, 0])],
        "doc_id string, qvec array<int>")
    cents = spark.createDataFrame(
        [(0, [0, 0, 0, 0])], "cent_id int, cent_qvec array<int>")
    cfg = PipelineConfig(min_tokens=0, exact=False, near_jaccard=None,
                         semantic_threshold=0.98)
    res = clean_corpus(df, cfg, embeddings_df=emb, centroids_df=cents)
    assert {r["doc_id"] for r in res.docs.collect()} == {"doc_0", "doc_1"}
    prov = {(r["doc_id"], r["drop_stage"]) for r in res.provenance.collect()}
    assert prov == {("doc_2", "5b_semantic_dup")}
    with pytest.raises(ValueError):
        clean_corpus(df, cfg)  # embeddings/centroids required


def test_pipeline_drop_boilerplate(spark):
    # the same licence-block segment in every doc: flag-only keeps its first
    # occurrence (first-wins dedup), drop_boilerplate removes ALL copies
    bp = [5, 6, 7]
    rows = [(f"doc_{i}", bp + [104] + [20 + i, 21 + i], 6, "web")
            for i in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    keep_cfg = PipelineConfig(min_tokens=0, exact=False, near_jaccard=None,
                              segment_delim=104, boilerplate_min_docs=2)
    drop_cfg = PipelineConfig(min_tokens=0, exact=False, near_jaccard=None,
                              segment_delim=104, boilerplate_min_docs=2,
                              drop_boilerplate=True)
    kept = {r["doc_id"]: r["tokens"] for r in
            clean_corpus(df, keep_cfg).docs.collect()}
    dropped = {r["doc_id"]: r["tokens"] for r in
               clean_corpus(df, drop_cfg).docs.collect()}
    # flag-only: doc_0 (lowest id) keeps the boilerplate prefix, others lose
    # it to first-wins segment dedup
    assert kept["doc_0"] == bp + [20, 21]
    assert all(kept[f"doc_{i}"] == [20 + i, 21 + i] for i in range(1, 4))
    # drop_boilerplate: every copy gone, including the first occurrence
    assert all(dropped[f"doc_{i}"] == [20 + i, 21 + i] for i in range(4))


def test_pipeline_temperature_mixture(spark):
    rows = [(f"a_{i}", [i % 9, (i + 1) % 9, (i + 2) % 9], 3, "big")
            for i in range(64)]
    rows += [(f"b_{i}", [(i + 3) % 9, (i + 4) % 9, (i + 5) % 9], 3, "small")
             for i in range(8)]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    res = clean_corpus(
        df,
        PipelineConfig(min_tokens=0, exact=False, near_jaccard=None,
                       temperature_alpha=0.5),
    )
    by_src = {r["source"]: r["n"] for r in
              res.docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # alpha=0.5: big keeps rate 1.0 (all rows), small keeps ~sqrt(8/64)=0.354
    assert by_src["big"] == 64
    assert 0 < by_src.get("small", 0) < 8
    dropped = {r["drop_stage"] for r in res.provenance.collect()}
    assert dropped == {"7_mixture_sample"}


def test_pipeline_semantic_dedup_ignores_dropped_docs(spark):
    """Stage 5b only compares docs still in the corpus: doc_1's one
    semantic near-copy (doc_0) already fell to the length rule, so doc_1
    must survive instead of losing to a doc that is gone."""
    rows = [("doc_0", [1, 2], 2, "web"),
            ("doc_1", [10, 11, 12, 13, 14, 15], 6, "web"),
            ("doc_2", [20, 21, 22, 23, 24, 25], 6, "web")]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    emb = spark.createDataFrame(
        [("doc_0", [0, 100, 50, 0]), ("doc_1", [0, 100, 50, 0]),
         ("doc_2", [127, 0, 0, 0])],
        "doc_id string, qvec array<int>")
    cents = spark.createDataFrame(
        [(0, [0, 0, 0, 0])], "cent_id int, cent_qvec array<int>")
    cfg = PipelineConfig(min_tokens=3, exact=False, near_jaccard=None,
                         semantic_threshold=0.98)
    res = clean_corpus(df, cfg, embeddings_df=emb, centroids_df=cents)
    assert {r["doc_id"] for r in res.docs.collect()} == {"doc_1", "doc_2"}
    prov = {(r["doc_id"], r["drop_stage"]) for r in res.provenance.collect()}
    assert prov == {("doc_0", "1_length")}


def test_pipeline_renamed_columns_integer_ids(spark):
    """Stages 1, 4, 5 and 6 over renamed columns with integer ids keep the
    same docs, tokens and provenance as the default-name run (zero-padded
    string ids sort like the integers, so every lowest-id-wins choice
    agrees)."""
    from pyspark.sql.types import LongType

    rows = [(i, [1000 + i * 50 + j for j in range(40)]) for i in range(8)]
    rows.append((8, [1, 2]))                                # length drop
    rows.append((9, rows[0][1]))                            # exact dup of 0
    rows.append((10, rows[1][1][:-1] + [999]))              # near dup of 1
    rows.append((11, [1, 2, 3, 104, 5, 6, 7]))
    rows.append((12, [5, 6, 7, 104, 1, 2, 3]))              # all segments dup
    rows.append((13, [1, 2, 3, 104, 900, 901]))             # one segment dup
    named = spark.createDataFrame(
        [(f"doc_{i:02d}", t, len(t), "web") for i, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string")
    renamed = spark.createDataFrame(
        [(i, t, len(t), "web") for i, t in rows],
        "id bigint, toks array<int>, len int, src string")
    cfg = PipelineConfig(min_tokens=3, exact=True, near_jaccard=0.5,
                         segment_delim=104)
    keys = dict(id_col="id", tokens_col="toks", n_tok_col="len",
                source_col="src")

    a = clean_corpus(named, cfg)
    b = clean_corpus(renamed, cfg, **keys)
    docs_a = {int(r["doc_id"][4:]): (r["tokens"], r["n_tok"])
              for r in a.docs.collect()}
    docs_b = {r["id"]: (r["toks"], r["len"]) for r in b.docs.collect()}
    assert docs_b == docs_a
    assert docs_a[13] == ([900, 901], 2)
    prov_a = {(int(r["doc_id"][4:]), r["drop_stage"])
              for r in a.provenance.collect()}
    prov_b = {(r["id"], r["drop_stage"]) for r in b.provenance.collect()}
    assert prov_b == prov_a == {(8, "1_length"), (9, "4_exact_dup"),
                                (10, "5_near_dup"),
                                (12, "6_all_segments_dup")}

    # no stage enabled: the empty provenance keeps the integer id type
    none = clean_corpus(renamed, PipelineConfig(min_tokens=0, exact=False,
                                                near_jaccard=None), **keys)
    assert none.provenance.schema["id"].dataType == LongType()
    assert none.provenance.count() == 0
