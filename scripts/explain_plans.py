#!/usr/bin/env python
"""Dump the physical plans of the flagship operators to EXPLAIN.md —
the artifact showing the plans are the ones we want: pushed filters,
broadcast dims, single shuffles, whole-stage codegen spans."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # keep the operator tree + inputs; drop the verbose per-node field dumps
    head, *rest = s.split("\n\n")
    keep = [head]
    for block in rest:
        block = block.strip("\n")
        if (re.match(r"\(\d+\) Scan", block) or "PushedFilters" in block
                or "PartitionFilters" in block):
            keep.append(block)
    return "\n\n".join(keep)


def main() -> None:
    from pyspark.sql import functions as F

    from nyxus_spark.features import extract_features
    from nyxus_spark.operators import asof_join, sessionize
    from nyxus_spark.operators.prescan import with_source_range
    from nyxus_spark.session import get_spark
    from nyxus_spark.sources import probes, tokens_static, tokens_versions

    spark = get_spark("explain", cores=8)
    sf = "/root/testdata/sf0.01"

    sections = {}

    v = tokens_versions(spark, sf).select("doc_id", "ts", "tokens", "n_tok")
    p = probes(spark, sf)
    sections["as-of join (union_window) + feature extraction"] = plan_of(
        extract_features(asof_join(p, v).filter(F.col("tokens").isNotNull()),
                         ["MEAN", "ENTROPY"], keep_tokens=False)
    )
    sections["as-of join, salted (salt_slices=8)"] = plan_of(asof_join(p, v, salt_slices=8))
    sections["as-of join, nearest direction (ONE Exchange, two window sorts)"] = plan_of(
        asof_join(p, v.select("doc_id", "ts", "n_tok"), direction="nearest")
    )
    sections["feature catalog (narrow — no exchange)"] = plan_of(
        extract_features(v, ["*ALL_INTENSITY*"], keep_tokens=False)
    )
    sections["prescan broadcast join"] = plan_of(with_source_range(tokens_static(spark, sf)))
    sections["sessionization (single shuffle + window)"] = plan_of(
        sessionize(spark.read.parquet(f"{sf}/events.parquet")
                   .select(F.col("user_id").cast("string").alias("doc_id"), "ts"), 3600.0)
    )
    # predicate pushdown evidence: a filtered scan
    flt = spark.read.parquet(f"{sf}/events.parquet").filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 10)
    ).select("event_id", "value")
    sections["filtered scan (predicate pushdown + column pruning)"] = plan_of(flt)

    # bucketed tables: both written bucketed+sorted on doc_id, so
    # key-clustered operators over them need no Exchange
    import tempfile

    from nyxus_spark.sinks import write_bucketed

    bdir = tempfile.mkdtemp(prefix="bucketed_explain_")
    write_bucketed(v.select("doc_id", "ts", "n_tok"), "explain_v_b",
                   path=f"{bdir}/v")
    write_bucketed(p, "explain_p_b", path=f"{bdir}/p")
    # bucketing satisfies AGGREGATION distribution: a groupBy on the
    # bucket column over the bucketed scan plans partial+final hash agg
    # with NO Exchange between them — the write-once/aggregate-many shape
    sections["bucketed aggregation (groupBy bucket column — ZERO Exchange)"] = plan_of(
        spark.table("explain_v_b").groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("mass"))
    )
    # MERGE/upsert between two tables bucketed on the key: the full-outer
    # join runs with NO Exchange on either side — the 100 TB MERGE shape
    # (Iceberg bucket(id) both sides; only SortMergeJoin's local sorts
    # remain)
    from nyxus_spark.sinks import merge_upsert

    sections["MERGE/upsert over bucketed tables (full-outer join — ZERO Exchange)"] = plan_of(
        merge_upsert(
            spark.table("explain_v_b"),
            spark.table("explain_p_b").select(
                "doc_id", "ts", F.lit(0).cast("int").alias("n_tok")),
            ["doc_id"],
        )
    )
    spark.sql("DROP TABLE IF EXISTS explain_v_b")
    spark.sql("DROP TABLE IF EXISTS explain_p_b")

    # neighbor range join: bucketed broad phase, rank-based top-2 (no
    # collect_list), one shuffle per side
    from nyxus_spark.operators.relations import neighbor_stats

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "event_id"
    )
    sections["neighbor range join + rank top-2"] = plan_of(neighbor_stats(ev, 14400.0))

    # interval-overlap join: bucketed broad phase on BOTH sides, one
    # exchange per side, no distinct (first-shared-bucket emits each pair
    # exactly once)
    from nyxus_spark.operators import sessionize as _sess
    from nyxus_spark.operators.relations import interval_overlap_join

    iv = (
        _sess(ev, 3600.0).groupBy("doc_id", "session_id")
        .agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
    )
    sections["interval-overlap join (bucketed both sides, once per pair)"] = plan_of(
        interval_overlap_join(iv, iv)
    )

    # persisted IVF index: the probe filter must land as PartitionFilters on
    # the scan (bucket pruning at the source, not a post-scan filter)

    from nyxus_spark.operators.similarity import ivf_index, ivf_search

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select("vec_id", "embedding")
    cents = emb.filter("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ivf_dir = tempfile.mkdtemp(prefix="ivf_explain_")
    ivf_index(emb, cents, ivf_dir)
    sections["IVF search on the persisted index (PartitionFilters pruning)"] = plan_of(
        ivf_search(spark, ivf_dir, cents, qv, k=10)
    )

    # DYNAMIC partition pruning: joining the partitioned index to a
    # FILTERED dim on the partition column injects a runtime subquery
    # filter (dynamicpruningexpression) into the scan — partitions prune
    # from the dim's values at execution time, no static filter needed
    fact = spark.read.parquet(ivf_dir)
    dim = cents.filter("cent_id % 3 = 0")
    sections["dynamic partition pruning (runtime dim-driven scan filter)"] = plan_of(
        fact.join(dim, fact.assigned_cent == dim.cent_id).select(
            "vec_id", "cent_id")
    )

    # batch top-k cosine: the per-partition pre-top-k (mapInArrow) must sit
    # BELOW the query_id exchange — the exchange then carries only
    # num_partitions·|Q|·k rows
    from nyxus_spark.operators.similarity import topk_cosine_batch

    qdf = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sections["batch top-k cosine (local pre-top-k below the rank exchange)"] = plan_of(
        topk_cosine_batch(emb, qdf, k=5)
    )

    # two-stage rerank: stage-1 int8 scoring with the same pre-top-k
    # combine, stage-2 exact cosine over only m candidate ids (broadcast
    # query vectors, corpus join carries vectors for candidates only)
    from nyxus_spark.operators.similarity import rerank_topk

    sections["two-stage rerank (int8 stage-1 combine, float stage-2 on m ids)"] = plan_of(
        rerank_topk(emb, qdf, k=5, m=20)
    )

    # batch IVF: broadcast probe table joined on the corpus's single
    # assigned_cent column — candidate expansion is |probed fraction|·|Q|
    from nyxus_spark.operators.similarity import ivf_topk_batch

    sections["batch IVF search (broadcast probes, bucket-join candidates)"] = plan_of(
        ivf_topk_batch(emb, cents, qdf, k=5)
    )

    # SemDeDup: broadcast centroid argmin, then ONE exchange on the cluster
    # id for the within-cluster self-join — candidate volume is
    # sum(|cluster|^2) by the algorithm's construction, never |corpus|^2
    from nyxus_spark.operators.dedup import semdedup
    from nyxus_spark.operators.similarity import quantize_embedding

    qemb = emb.select("vec_id", quantize_embedding("embedding").alias("qv"))
    qseeds = qemb.filter("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qvec")
    )
    sections["SemDeDup (broadcast argmin + one cluster-id exchange)"] = plan_of(
        semdedup(qemb, qseeds, vec_col="qv")
    )

    # runtime bloom-filter join pruning (InjectRuntimeFilter): on a
    # selective shuffle join, the creation side's bloom filter reaches the
    # other side's scan as a might_contain predicate — row-group-level scan
    # reduction the optimizer injects for free at 100 TB (the
    # application-side size threshold, default 10GB, is lowered here only
    # because the test corpus is tiny; the creation-side selectivity rule
    # is the real one)
    rbf_keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved_rbf = {}
    for k, val in rbf_keys.items():
        try:
            saved_rbf[k] = spark.conf.get(k)
        except Exception:
            saved_rbf[k] = None
        spark.conf.set(k, val)
    try:
        evr = spark.read.parquet(f"{sf}/events.parquet")
        rbf_probes = evr.filter(
            (F.col("event_id") % 4 == 0) & (F.col("event_type") == "purchase")
        ).select("user_id", "ts", "event_id")
        rbf_versions = evr.filter(F.col("event_id") % 4 != 0).select(
            "user_id", "ts", "value"
        )
        opt = (
            rbf_probes.join(rbf_versions, "user_id")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        keep = [
            ln for ln in opt.splitlines()
            if re.search(r"might_contain|bloom_filter_agg|Join|Relation", ln)
        ]
        sections[
            "runtime bloom-filter join pruning (InjectRuntimeFilter — OPTIMIZED plan)"
        ] = "\n".join(keep)
    finally:
        for k, val in saved_rbf.items():
            if val is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, val)

    # relational path: broadcast dim join + partial/final hash agg
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet").select("c_custkey", "c_mktsegment")
    sections["segment rollup (BroadcastHashJoin + two-phase HashAggregate)"] = plan_of(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )

    # rolling frames: ONE exchange (the partition key); both the row frame
    # and the epoch-µs range frame ride the same window sort
    from nyxus_spark.operators.windows import with_rolling

    evr = spark.read.parquet(f"{sf}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"))
    sections["rolling frames (rows + time-range, one exchange)"] = plan_of(
        with_rolling(evr, "cents", n_rows=3, range_us=7_200_000_000,
                     tiebreak="event_id")
    )

    # sequence packing: ONE exchange (the shard hash), whole-stage window
    from nyxus_spark.operators.packing import pack_sequences

    sections["sequence packing (one shard exchange + JVM window)"] = plan_of(
        pack_sequences(
            tokens_static(spark, sf).filter(F.col("n_tok") > 0),
            capacity=128,
            id_expr=F.expr("cast(substr(doc_id, 5) as bigint)"),
            n_shards=8,
        )
    )

    # epoch training-order write: the default range exchange has no fixed
    # count (REPARTITION_BY_COL), so AQE may coalesce adjacent ranges into
    # data-sized files; an explicit n_files (REPARTITION_BY_NUM) is kept.
    # The exchange's origin shows only in the tree string.
    from nyxus_spark.sinks import _training_order

    epoch_docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source")
    for title, n in (("default, data-sized files", None), ("n_files=4", 4)):
        ordered = _training_order(epoch_docs, 0, F.xxhash64("doc_id"), n)
        sections[f"epoch training-order write ({title})"] = (
            ordered._jdf.queryExecution().executedPlan().toString().rstrip())

    # pack segments: the explode is narrow (rides the packer's output);
    # the seg_idx window re-uses the (shard, pack) hash family
    from nyxus_spark.operators.packing import pack_segments

    sections["pack segments (narrow explode + window on packer keys)"] = plan_of(
        pack_segments(
            pack_sequences(
                tokens_static(spark, sf).filter(F.col("n_tok") > 0),
                capacity=128,
                id_expr=F.expr("cast(substr(doc_id, 5) as bigint)"),
                n_shards=8,
            ),
            128,
        )
    )

    # prefix containment: ONE equi-join exchange on the serialized first-k
    # prefix; the slice verification is a JVM filter above the join
    from nyxus_spark.operators.dedup import prefix_containment

    sections["prefix containment (prefix-key equi-join, slice verify)"] = plan_of(
        prefix_containment(tokens_static(spark, sf), k=8)
    )

    # duplicate spans: gram hash agg (map-side combine) -> position join
    # -> per-doc gaps-and-islands window
    from nyxus_spark.operators.dedup import duplicate_spans

    sections["duplicate spans (gram agg + position join + island window)"] = plan_of(
        duplicate_spans(tokens_static(spark, sf), L=8)
    )

    # skew report: one key agg, bucket re-agg of the key dim, broadcast totals
    from nyxus_spark.operators.prescan import exact_range_bounds, skew_report

    evr2 = spark.read.parquet(f"{sf}/events.parquet")
    sections["skew report (key agg + broadcast totals)"] = plan_of(
        skew_report(evr2, F.col("user_id"), n_buckets=16)
    )

    # exact range bounds: value-grain agg + dim-grain cumulative window
    sections["exact range bounds (value agg + dim-grain window)"] = plan_of(
        exact_range_bounds(
            tokens_static(spark, sf).select(F.col("n_tok").alias("v")), "v", 8
        )
    )

    # mean-pool doc embeddings: explode + broadcast |V|-row join +
    # (doc, dim) partial/final agg — same family as the k-means update
    from nyxus_spark.operators.similarity import mean_pool_docs, quantize_embedding

    emb_pool = emb.select(
        F.col("vec_id").alias("token"), quantize_embedding("embedding").alias("qvec")
    )
    sections["mean-pool doc embeddings (broadcast join + cell agg)"] = plan_of(
        mean_pool_docs(tokens_static(spark, sf), emb_pool)
    )

    # k-means step: broadcast centroids, argmin window on the id, then
    # posexplode + partial/final hash agg for the exact coordinate sums
    from nyxus_spark.operators.similarity import kmeans_step, quantize_embedding

    qv = emb.select("vec_id", quantize_embedding("embedding").alias("qvec"))
    seeds = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("qvec").alias("cent_qvec")
    )
    sections["k-means step (broadcast centroids + two-phase coordinate agg)"] = plan_of(
        kmeans_step(qv, seeds)
    )

    # delimiter segmentation: pure higher-order expressions + posexplode —
    # NO exchange anywhere (the split itself is embarrassingly parallel)
    from nyxus_spark.functions import split_on_token

    ts = tokens_static(spark, sf)
    sections["delimiter segmentation (split_on_token — no exchange)"] = plan_of(
        split_on_token(ts, 104)
    )

    # segment-level dedup: the split is narrow; first-occurrence winners
    # come from a PARTIAL(map-side)+FINAL min-struct aggregate — only one
    # candidate per key per partition ships — and the flag join broadcasts
    # (small winners) or SMJs (AQE-skew-splittable), never a window
    from nyxus_spark.operators.dedup import segment_dedup

    sections["segment-level dedup (map-side-combine agg + broadcast flag join)"] = plan_of(
        segment_dedup(ts, 104)
    )

    # PQ encode: broadcast codebooks; the argmin is a hash AGGREGATION
    # (min(struct)) rather than a window sort, then one reassembly agg
    from nyxus_spark.operators.similarity import pq_encode, pq_search_adc

    books = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cent_id"),
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " j -> slice(qvec, j * (size(qvec) div 4) + 1, size(qvec) div 4))"
        )).alias("sub_id", "cent_sub"),
    )
    codes = pq_encode(qv, books, m=4, vec_col="qvec")
    sections["PQ encode (broadcast codebooks + min-struct hash agg)"] = plan_of(codes)

    # PQ ADC search: broadcast LUT over the code table; per-partition
    # pre-top-k (MapInArrow) below the per-query rank exchange
    qpq = qv.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("query_qvec")
    )
    sections["PQ ADC search (broadcast LUT, pre-top-k below rank exchange)"] = plan_of(
        pq_search_adc(codes, books, qpq, m=4, k=5)
    )

    # CDC chunking: boundary detection + slicing are pure expressions; the
    # ONLY exchange is the first-occurrence window on the chunk content key
    from nyxus_spark.operators.dedup import cdc_chunks, edit_distance_verify

    sections["CDC chunk dedup (map-side-combine agg + broadcast flag join)"] = plan_of(
        cdc_chunks(ts, div=16)
    )

    # Bloom-prefiltered decontamination: the bitset table broadcasts (two
    # BroadcastHashJoins = the map-side prefilter); no corpus-gram shuffle
    # before the exact verify join
    from nyxus_spark.functions import contamination_bloom

    bench = ts.filter(F.expr("CAST(substring(doc_id, 5) AS BIGINT) % 97 = 0"))
    sections["bloom decontamination (broadcast bitset prefilter)"] = plan_of(
        contamination_bloom(ts, bench, n=8)
    )

    # edit-distance verify: candidates join the token strings (hash joins
    # on ids), the levenshtein kernel runs inside whole-stage codegen
    from nyxus_spark.operators.dedup import minhash_candidate_pairs

    cand = minhash_candidate_pairs(ts)
    sections["edit-distance verify (candidate joins, JVM levenshtein)"] = plan_of(
        edit_distance_verify(ts, cand, encoding="wide")
    )

    # tombstone as-of: the deletion flag rides the unchanged union_window
    # plan — still exactly one Exchange
    from nyxus_spark.operators.asof_join import asof_join_tombstones

    vd = v.select("doc_id", "ts", "n_tok").withColumn(
        "deleted", (F.col("n_tok") % 7 == 0).cast("int")
    )
    sections["tombstone as-of join (flag rides the plan, ONE Exchange)"] = plan_of(
        asof_join_tombstones(p, vd)
    )

    # PPJoin prefix-filter similarity join: candidates come from EQUI-joins
    # (prefix-token hash joins), never a cartesian — no
    # BroadcastNestedLoopJoin/CartesianProduct anywhere in the plan
    from nyxus_spark.operators.dedup import graph_node_stats, prefix_filter_pairs

    sections["PPJoin prefix-filter similarity join (equi-joins only)"] = plan_of(
        prefix_filter_pairs(ts, 3, 5)
    )

    # near-dup graph analytics: wedge-close triangle enumeration = three
    # hash joins on node keys (again: no cartesian)
    sections["graph node stats (wedge-close triangles, hash joins only)"] = plan_of(
        graph_node_stats(cand)
    )

    # priority sampling: ONE exchange (the per-stratum sort), everything
    # else column expressions
    from nyxus_spark.functions import priority_sample

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    sections["priority sampling (one per-stratum sort exchange)"] = plan_of(
        priority_sample(docs, k=10, weight_col="n_chars")
    )

    with open("EXPLAIN.md", "w") as f:
        f.write("# Physical plans of the flagship operators\n\n")
        f.write("Generated by `scripts/explain_plans.py` (sf0.01, local[8]).\n")
        f.write("What to look for: `PushedFilters` on scans, `ReadSchema` column\n")
        f.write("pruning, exactly one `Exchange` per wide op, `BroadcastHashJoin`\n")
        f.write("for dims, and the feature catalog having NO Exchange at all.\n\n")
        for title, plan in sections.items():
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
    n_exch = {t: s.count("Exchange") for t, s in sections.items()}
    print("Exchanges per plan:", n_exch)
    assert "PushedFilters: [" in sections["filtered scan (predicate pushdown + column pruning)"]
    assert "Exchange" not in sections["feature catalog (narrow — no exchange)"]
    # nearest = two window passes over the SAME hash partitioning: the plan
    # must not add a second shuffle for the second sort order
    assert n_exch["as-of join, nearest direction (ONE Exchange, two window sorts)"] == 1
    assert "PartitionFilters: [" in sections[
        "IVF search on the persisted index (PartitionFilters pruning)"
    ]
    assert n_exch["sequence packing (one shard exchange + JVM window)"] == 1
    assert n_exch["rolling frames (rows + time-range, one exchange)"] == 1
    epoch_auto = sections["epoch training-order write (default, data-sized files)"]
    epoch_fixed = sections["epoch training-order write (n_files=4)"]
    assert "rangepartitioning" in epoch_auto and "REPARTITION_BY_COL" in epoch_auto
    assert "REPARTITION_BY_NUM" not in epoch_auto
    assert "ASC NULLS FIRST, 4), REPARTITION_BY_NUM" in epoch_fixed
    assert n_exch["epoch training-order write (default, data-sized files)"] == 1
    assert n_exch["epoch training-order write (n_files=4)"] == 1
    assert "BroadcastExchange" in sections[
        "k-means step (broadcast centroids + two-phase coordinate agg)"
    ]
    batch_plan = sections["batch top-k cosine (local pre-top-k below the rank exchange)"]
    # formatted explain prints consumers first, so the pre-top-k MapInArrow
    # (dataflow-BELOW the rank exchange) must appear after it in the text
    assert batch_plan.index("MapInArrow") > batch_plan.index("Exchange"), (
        "pre-top-k must feed the rank exchange"
    )
    assert "Exchange" not in sections[
        "delimiter segmentation (split_on_token — no exchange)"
    ]
    seg_plan = sections["segment-level dedup (map-side-combine agg + broadcast flag join)"]
    # two SortAggregates = partial (map-side) + final; the flag join must be
    # a real join (broadcast here; SMJ -> AQE-splittable at scale), NO window
    assert seg_plan.count("SortAggregate") == 2 and "Window" not in seg_plan
    assert "BroadcastHashJoin" in seg_plan or "SortMergeJoin" in seg_plan
    pq_plan = sections["PQ encode (broadcast codebooks + min-struct hash agg)"]
    assert "BroadcastExchange" in pq_plan and "Window" not in pq_plan
    adc_plan = sections["PQ ADC search (broadcast LUT, pre-top-k below rank exchange)"]
    # consumers print first: the rank exchange is the FIRST Exchange in the
    # text and the pre-top-k MapInArrow must sit below (after) it
    assert adc_plan.index("MapInArrow") > adc_plan.index("Exchange")
    # wave 9/10: CDC shuffles once (content-key window); the bloom prefilter
    # is broadcast-only on the probe side; tombstones add no exchange over
    # the plain union_window as-of
    cdc_plan = sections["CDC chunk dedup (map-side-combine agg + broadcast flag join)"]
    assert cdc_plan.count("SortAggregate") == 2 and "Window" not in cdc_plan
    assert "BroadcastHashJoin" in cdc_plan or "SortMergeJoin" in cdc_plan
    assert "BroadcastExchange" in sections[
        "bloom decontamination (broadcast bitset prefilter)"
    ]
    assert n_exch["tombstone as-of join (flag rides the plan, ONE Exchange)"] == 1
    ppj_plan = sections["PPJoin prefix-filter similarity join (equi-joins only)"]
    assert "CartesianProduct" not in ppj_plan
    assert "BroadcastNestedLoopJoin" not in ppj_plan
    tri_plan = sections["graph node stats (wedge-close triangles, hash joins only)"]
    assert "CartesianProduct" not in tri_plan
    assert "BroadcastNestedLoopJoin" not in tri_plan
    rbf_plan = sections[
        "runtime bloom-filter join pruning (InjectRuntimeFilter — OPTIMIZED plan)"
    ]
    assert "might_contain" in rbf_plan and "bloom_filter_agg" in rbf_plan
    print("EXPLAIN.md written")
    spark.stop()


if __name__ == "__main__":
    main()
