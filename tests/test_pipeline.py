"""The one-call pipeline (nyxus_spark/pipeline.py) vs the oracle-gated
composition queries: clean_corpus configured like the `corpus_clean` driver
gate must reproduce that gate's per-doc outputs exactly (read from the gate's
DuckDB oracle, which the entry-contract test holds the Spark gate equal to),
plus glue-level contracts (provenance, stage counts, packing, epoch write)."""

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from nyxus_spark.pipeline import PipelineConfig, clean_corpus
from tests.test_entry_contract import _duck

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
    # the gate's values come from its DuckDB oracle, which
    # test_entry_contract holds the Spark gate equal to: reading the oracle
    # costs seconds, building the Spark gate a second time costs a minute
    gate = _duck(SF).execute(entrymod.oracle_sql()["corpus_clean"]).df()[
        ["doc_id", "segs_kept", "clean_n_tok", "clean_tok_sum", "clean_digest"]
    ].set_index("doc_id")

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
    assert _call(lambda: [tuple(r) for r in b.stage_counts().collect()]) == [
        ("1_length", 1), ("4_exact_dup", 1), ("5_near_dup", 1),
        ("6_all_segments_dup", 1)]

    # no stage enabled: the empty provenance keeps the integer id type
    none = clean_corpus(renamed, PipelineConfig(min_tokens=0, exact=False,
                                                near_jaccard=None), **keys)
    assert none.provenance.schema["id"].dataType == LongType()
    assert none.provenance.count() == 0


# --- stage_counts() == provenance per stage, across settings and call orders

ORDERS = ("counts_first", "after_write", "after_public_reads")


def _call(fn, timeout=300):
    """Run `fn` in a daemon thread so a blocked Observation.get fails the
    test instead of hanging the suite."""
    box = {}

    def run():
        try:
            box["value"] = fn()
        except BaseException as e:  # re-raised in the test thread
            box["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        pytest.fail(f"call did not return within {timeout} s")
    if "error" in box:
        raise box["error"]
    return box.get("value")


def _corpus(spark):
    """One doc (at least) for every stage to drop; ids zero-padded so that
    string order is integer order."""
    toks = {i: [1000 + i * 50 + j for j in range(30)] for i in range(20)}
    toks[20] = [1, 2]                                   # 1: too short
    toks[21] = list(range(2000, 2090))                  # 1: too long
    toks[22] = [7, 8, 9] * 8                            # 2: repetitive
    toks[23] = list(range(5000, 5020))                  # 3: benchmark copy
    toks[24] = toks[1]                                  # 4: exact dup of 1
    toks[25] = toks[2][:-1] + [999]                     # 5: near dup of 2
    toks[26] = list(range(6000, 6030))                  # 5b: same emb as 3
    toks[27] = [3001, 3002, 3003, 104, 3004, 3005, 3006]
    toks[28] = [3004, 3005, 3006, 104, 3001, 3002, 3003]  # 6: all segs dup
    bp = [4001, 4002, 4003]
    toks[29] = bp + [104, 4101, 4102, 4103]
    toks[30] = bp + [104, 4201, 4202, 4203]
    toks[31] = list(bp)                                 # 6: boilerplate only
    rows = [(f"doc_{i:02d}", t, len(t), "small" if i % 5 == 0 else "big")
            for i, t in sorted(toks.items())]
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    bench = spark.createDataFrame(
        [("b0", list(range(5000, 5020)), 20)],
        "doc_id string, tokens array<int>, n_tok int")
    emb = spark.createDataFrame(
        [("doc_03", [0, 100, 50, 0]), ("doc_26", [0, 100, 50, 0]),
         ("doc_04", [127, 0, 0, 0])], "doc_id string, qvec array<int>")
    cents = spark.createDataFrame(
        [(0, [0, 0, 0, 0])], "cent_id int, cent_qvec array<int>")
    return df, bench, dict(embeddings_df=emb, centroids_df=cents)


# Every stage is covered by one of these configs, each with a doc it drops.
# They are split because the provenance plan of one config that enables
# every stage grows with each stage that reads its input twice, and Spark
# then spends minutes planning it.
OFF = dict(min_tokens=0, exact=False, near_jaccard=None)
CONFIGS = {
    # 1 (both bounds), 2, 3, 7 as a temperature mixture, 8 on
    "filters_temperature_packed": (
        dict(min_tokens=3, max_tokens=80, max_rep3_ratio=0.5, exact=False,
             near_jaccard=None, temperature_alpha=0.5, pack_capacity=64),
        True,
        {"1_length", "2_repetition", "3_contaminated", "7_mixture_sample"}),
    # 4, 5, 5b
    "dedup": (dict(exact=True, near_jaccard=0.5, semantic_threshold=0.98,
                   min_tokens=0), False,
              {"4_exact_dup", "5_near_dup", "5b_semantic_dup"}),
    # 6 flag-only boilerplate, 7 as a flat rate, 8 off
    "segments_flat": (dict(OFF, segment_delim=104, boilerplate_min_docs=2,
                           sample_rate=0.7), False,
                      {"6_all_segments_dup", "7_sample"}),
    # 6 dropping boilerplate
    "segments_drop_boilerplate": (
        dict(OFF, segment_delim=104, boilerplate_min_docs=2,
             drop_boilerplate=True), False, {"6_all_segments_dup"}),
}


def _source(spark, df, kind, path):
    if kind == "local":
        return df
    df.write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def _prov_counts(res):
    return sorted((r["drop_stage"], r["n"]) for r in
                  res.provenance.groupBy("drop_stage")
                  .agg(F.count(F.lit(1)).alias("n")).collect())


def _counts_in_order(res, order, out):
    """stage_counts() rows, called in `order`; every order also writes an
    epoch to `out`."""
    if order == "after_public_reads":
        _call(lambda: res.provenance.collect())
        _call(lambda: res.docs.show(2))
        _call(lambda: res.docs.limit(1).collect())
    if order != "counts_first":
        _call(lambda: res.write_epoch(out, 0, n_files=2))
        # only a packed write is observed
        assert res._observed == (res.packs is not None), order
    sc = _call(lambda: res.stage_counts())
    assert [(f.name, f.dataType.simpleString()) for f in sc.schema] == [
        ("drop_stage", "string"), ("docs_dropped", "bigint")]
    got = _call(lambda: [(r["drop_stage"], r["docs_dropped"])
                         for r in sc.collect()])
    if order == "counts_first":
        _call(lambda: res.write_epoch(out, 0, n_files=2))
    return got


@pytest.mark.parametrize("name,source,orders", [
    ("filters_temperature_packed", "local", ORDERS),
    ("filters_temperature_packed", "parquet", ("after_write",)),
    ("dedup", "local", ("after_public_reads",)),
    ("dedup", "parquet", ("after_write",)),
    ("segments_flat", "local", ("after_public_reads",)),
    ("segments_drop_boilerplate", "parquet", ("counts_first",)),
])
def test_stage_counts_match_provenance(spark, tmp_path, name, source, orders):
    """stage_counts() equals the provenance aggregate in every call order,
    and the observed write holds exactly the rows the counts keep."""
    kw, bench, stages = CONFIGS[name]
    df, bench_df, extra = _corpus(spark)
    src = _source(spark, df, source, tmp_path / "src")
    n_in = df.count()
    want = None
    for order in orders:
        res = clean_corpus(src, PipelineConfig(**kw), **extra,
                           bench_df=bench_df if bench else None)
        out = str(tmp_path / order)
        got = _counts_in_order(res, order, out)
        want = want or _prov_counts(res)
        assert got == want, order
        assert res._drops is not None, order  # counted, not aggregated
        n_out = spark.read.parquet(out).count()
        assert n_out == n_in - sum(n for _, n in got), order
    assert {s for s, _ in want} == stages


@pytest.mark.parametrize("source", ["local", "parquet"])
def test_stage_counts_no_stage_empty_input_all_dropped(spark, tmp_path,
                                                      source):
    """No stage enabled gives an empty (drop_stage, docs_dropped) frame from
    the observed pass. An input the optimizer knows to be empty makes Spark
    prune observed nodes, and the provenance aggregate answers. Empty input
    and a stage that drops every doc give the right counts either way (AQE
    may or may not prune at run time)."""
    df, bench_df, _ = _corpus(spark)
    src = _source(spark, df, source, tmp_path / "src")
    none = clean_corpus(src, PipelineConfig(**OFF))
    assert _counts_in_order(none, "counts_first", str(tmp_path / "n")) == []
    assert none._drops == {}

    cfg = PipelineConfig(min_tokens=3, max_rep3_ratio=0.5, exact=False,
                         near_jaccard=None, pack_capacity=64)
    pruned = clean_corpus(src.filter(F.lit(False)), cfg, bench_df=bench_df)
    assert _counts_in_order(pruned, "after_write", str(tmp_path / "p")) == []
    assert pruned._drops is None

    empty = _source(spark, spark.createDataFrame([], df.schema), source,
                    tmp_path / "empty")
    for order in ("counts_first", "after_write"):
        res = clean_corpus(empty, cfg, bench_df=bench_df)
        assert _counts_in_order(res, order, str(tmp_path / order)) == []

    res = clean_corpus(src, PipelineConfig(min_tokens=1000))
    got = _counts_in_order(res, "after_write", str(tmp_path / "all"))
    assert got == [("1_length", df.count())] == _prov_counts(res)


def test_stage_counts_after_write_runs_no_replay(spark, tmp_path):
    """After write_epoch, collecting stage_counts() runs at most one Spark
    job (replaying the chain with left-anti joins ran 15 on the
    corpus_clean benchmark workload) over no RDD or Python scan, and the
    public frames carry no observation."""
    df, bench_df, _ = _corpus(spark)
    res = clean_corpus(df, PipelineConfig(
        **CONFIGS["filters_temperature_packed"][0]), bench_df=bench_df)
    res.write_epoch(str(tmp_path / "e0"), 0, n_files=2)
    sc = spark.sparkContext
    group = "pipeline-stage-counts-jobs"
    sc.setJobGroup(group, group)
    try:
        counts = res.stage_counts()
        rows = counts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "Python" not in plan, plan
    assert [(r[0], r[1]) for r in rows] == _prov_counts(res)
    for frame in (res.docs, res.packs, res.provenance):
        assert "CollectMetrics" not in \
            frame._jdf.queryExecution().optimizedPlan().toString()


def test_stage_counts_duplicate_ids(spark, tmp_path):
    """With every id twice (and one id on two different docs) the row
    counts of the segment stage's inner join stay >= 0 and equal the
    provenance aggregate."""
    df, _, _ = _corpus(spark)
    other = (df.filter("doc_id = 'doc_05'")
             .withColumn("tokens", F.sequence(F.lit(9000), F.lit(9029))))
    dup = df.unionByName(df).unionByName(other)
    res = clean_corpus(dup, PipelineConfig(**CONFIGS["segments_flat"][0]))
    got = _counts_in_order(res, "after_write", str(tmp_path / "e0"))
    assert res._drops is not None
    assert got == _prov_counts(res)
    assert all(n > 0 for _, n in got)


@pytest.mark.parametrize("why", ["tasks_repeated", "negative_drop"])
def test_stage_counts_untrusted_pass_uses_provenance(spark, monkeypatch,
                                                     why):
    """Counts from a pass that may have merged a task twice (a failed
    task, a partition completed twice), or that give a stage a negative
    drop, are not used: the provenance aggregate answers."""
    import nyxus_spark.pipeline as pipeline

    if why == "tasks_repeated":
        monkeypatch.setattr(pipeline, "_tasks_repeated", lambda sc, tag: True)
    else:
        real = pipeline._observed_drops
        monkeypatch.setattr(pipeline, "_observed_drops", lambda obs: {
            **real(obs), "0_phantom": -1})
    df, _, _ = _corpus(spark)
    res = clean_corpus(df, PipelineConfig(**dict(OFF, min_tokens=3)))
    got = _call(lambda: [tuple(r) for r in res.stage_counts().collect()])
    assert res._observed and res._drops is None
    assert got == _prov_counts(res) == [("1_length", 1)]


def test_default_packed_write_is_observed_without_provenance(
        spark, tmp_path, monkeypatch):
    """A packed write_epoch with the default file count writes sorted,
    non-overlapping range files sized by AQE, counts the stages in that
    write without building a provenance join, and the counts equal the
    provenance aggregate."""
    import nyxus_spark.pipeline as pipeline
    from tests.test_training_order import (
        _assert_range_files,
        _files,
        _initial_ranges,
    )

    df, bench_df, _ = _corpus(spark)
    res = clean_corpus(df, PipelineConfig(
        **CONFIGS["filters_temperature_packed"][0]), bench_df=bench_df)
    calls = []
    real = pipeline._dropped
    monkeypatch.setattr(pipeline, "_dropped",
                        lambda *a, **k: calls.append(a[2]) or real(*a, **k))
    out = str(tmp_path / "e0")
    _call(lambda: res.write_epoch(out, 0))
    assert calls == []
    assert res._drops is not None
    got = _call(lambda: [tuple(r) for r in res.stage_counts().collect()])
    assert got == _prov_counts(res)

    files = _files(out)
    _assert_range_files(files)
    assert 1 <= len(files) <= _initial_ranges(spark)
    assert sum(map(len, files)) == res.packs.count()


def _kept_and_dropped(spark, rows, **kw):
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    res = clean_corpus(df, PipelineConfig(near_jaccard=None, **kw))
    kept = sorted(r["doc_id"] for r in res.docs.select("doc_id").collect())
    dropped = sorted(tuple(r) for r in res.provenance.collect())
    return kept, dropped


def test_exact_dup_keeps_null_elements_apart(spark):
    """The exact-dup key is the token array itself: [1, NULL, 2] is not a
    copy of [1, 2], while two equal arrays with a null element are copies
    and the lower id survives."""
    kept, dropped = _kept_and_dropped(spark, [
        ("a", [1, None, 2], 3, "s"), ("b", [1, 2], 2, "s"),
        ("c", [5, 6], 2, "s")], min_tokens=1)
    assert (kept, dropped) == (["a", "b", "c"], [])
    kept, dropped = _kept_and_dropped(spark, [
        ("b", [1, None, 2], 3, "s"), ("a", [1, None, 2], 3, "s"),
        ("c", [1, 2], 2, "s")], min_tokens=1)
    assert (kept, dropped) == (["a", "c"], [("b", "4_exact_dup")])


def test_exact_dup_null_token_arrays(spark):
    """Docs whose token array is null are copies of each other, not of an
    empty array: the lowest id of them survives."""
    kept, dropped = _kept_and_dropped(spark, [
        ("b", None, None, "s"), ("a", None, None, "s"),
        ("c", [], 0, "s")], min_tokens=0)
    assert (kept, dropped) == (["a", "c"], [("b", "4_exact_dup")])


@pytest.mark.parametrize("kw", [
    dict(near_jaccard=1.5), dict(near_jaccard=0.0), dict(near_jaccard=-0.5),
    dict(min_tokens=5, max_tokens=4), dict(min_tokens=-1),
    dict(max_rep3_ratio=1.5), dict(max_rep3_ratio=-0.1),
    dict(sample_rate=0.0), dict(sample_rate=-0.1), dict(sample_rate=1.5),
])
def test_config_refuses_keep_all_or_drop_all(kw):
    """Values that silently kept or dropped every doc raise at construction,
    before any Spark job; the bounds themselves are valid."""
    with pytest.raises(ValueError):
        PipelineConfig(**kw)
    PipelineConfig(near_jaccard=1.0, min_tokens=0, max_tokens=0,
                   max_rep3_ratio=0.0)
    PipelineConfig(max_rep3_ratio=1.0)
    PipelineConfig(sample_rate=1.0)
