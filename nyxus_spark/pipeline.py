"""One-call training-data pipeline — the composed corpus-cleaning lifecycle.

The individual operators (quality filters, decontamination, exact/near/segment
dedup, mixture sampling, sequence packing, epoch-ordered materialization) each
exist as oracle-gated primitives in `operators/` and `functions/`; this module
wires them into the single config-driven call a corpus owner actually runs:

    from nyxus_spark.pipeline import PipelineConfig, clean_corpus

    res = clean_corpus(docs, PipelineConfig(min_tokens=8, near_jaccard=0.5,
                                            segment_delim=104,
                                            pack_capacity=2048),
                       bench_df=benchmark_docs)
    res.docs                    # cleaned token table (doc_id, tokens, n_tok, source)
    res.provenance              # every dropped doc_id + the stage that dropped it
    res.packs                   # context-window pack assignment (if configured)
    res.write_epoch(path, 0)    # reproducible epoch-shuffled materialization
                                #   (file count sized by AQE from the data)
    res.stage_counts()          # per-stage drop counts (taken in that write
                                #   when packing is on)

Reference analog: `Nyxus(...).featurize_directory` is the reference's one-call
lifecycle (scan -> segment -> feature -> write; nyxus.py:291-370); this is the
same product shape for the corpus-preparation side of the engine.

Stage order (each optional, config-driven) and the standard pipeline it
mirrors (CCNet / Gopher / RefinedWeb-style):

    1. length filter          n_tok in [min_tokens, max_tokens]
    2. repetition filter      duplicate-3-gram ratio quality rule
    3. decontamination        benchmark n-gram overlap (broadcast, no shuffle)
    4. exact dedup            lowest-id-wins on the full token sequence
    5. near dedup             MinHash-LSH pairs >= jaccard, higher id dropped
    6. segment dedup          line/paragraph first-wins + optional boilerplate
    7. mixture sampling       temperature p_s ~ n_s^alpha, or a flat rate
    8. sequence packing       shard-local concat-then-chunk window assignment

Scale shape: every stage is the already-audited operator (broadcast dims,
skew-safe min-struct aggregations, banded LSH — never all-pairs). The glue
adds left-anti joins for drop provenance, which run only when `provenance`
is read. Per-stage drop counts are row counts that `Observation`s take on
each stage's output during the pass that does the work: the first
`write_epoch` of a packed corpus, otherwise one `noop` pass when
`stage_counts()` is first called. The observations sit on a private
rebuild of the chain, so the public frames carry none, and the rebuild
builds no provenance joins. `temperature_rates` is the one eager step (a
strata-sized driver dict, prescan shape); the rebuild reuses its rates.

`write_epoch` range-partitions on the epoch key with no fixed count by
default, so AQE coalesces adjacent ranges into data-sized files (at most
Spark's initial shuffle partition count); `n_files` fixes the count
instead.

Determinism: sampling/packing/epoch keys derive from `id_expr` (default
xxhash64(doc_id)) via the shared (id*MIX mod P31) family, so a cleaned corpus,
its sample, and every epoch order are re-derivable forever.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from functools import partial, reduce
from typing import Callable, NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for `clean_corpus`; None / False disables a stage. Values that
    would silently keep or drop every doc raise ValueError."""

    # 1. length filter (docs outside [min_tokens, max_tokens] drop)
    min_tokens: int = 1
    max_tokens: int | None = None
    # 2. intra-doc repetition rule: drop docs whose duplicate-3-gram ratio
    #    exceeds this (Gopher-style); None disables
    max_rep3_ratio: float | None = None
    # 3. decontamination n-gram length (active only when bench_df is given)
    decontaminate_n: int = 8
    # 4. exact dedup on the full token sequence
    exact: bool = True
    # 5. near-dup MinHash-LSH threshold; None disables
    near_jaccard: float | None = 0.5
    # 5b. SemDeDup semantic dedup: cosine threshold over the quantized
    #     embedding table (requires embeddings_df + centroids_df at call
    #     time); None disables
    semantic_threshold: float | None = None
    # 6. segment-level dedup: split on this token id; None disables.
    #    boilerplate_min_docs flags segments appearing in >= that many docs;
    #    drop_boilerplate also removes them (flag-only matches the
    #    corpus_clean gate semantics).
    segment_delim: int | None = None
    boilerplate_min_docs: int | None = None
    drop_boilerplate: bool = False
    # 7. mixture sampling: temperature alpha in {1.0, 0.75, 0.5, 0.25}
    #    (per-source p_s ~ n_s^alpha), else a flat deterministic rate
    temperature_alpha: float | None = None
    sample_rate: float | None = None
    # 8. context-window packing
    pack_capacity: int | None = None
    pack_shards: int = 8

    def __post_init__(self) -> None:
        if self.min_tokens < 0:
            raise ValueError(f"min_tokens must be >= 0, got {self.min_tokens}")
        if self.max_tokens is not None and self.max_tokens < self.min_tokens:
            raise ValueError(f"max_tokens ({self.max_tokens}) < min_tokens "
                             f"({self.min_tokens}) drops every doc")
        if (self.max_rep3_ratio is not None
                and not 0.0 <= self.max_rep3_ratio <= 1.0):
            raise ValueError("max_rep3_ratio must be in [0, 1], got "
                             f"{self.max_rep3_ratio}")
        if (self.near_jaccard is not None
                and not 0.0 < self.near_jaccard <= 1.0):
            raise ValueError(f"near_jaccard must be in (0, 1], got "
                             f"{self.near_jaccard}")
        if (self.sample_rate is not None
                and not 0.0 < self.sample_rate <= 1.0):
            raise ValueError(f"sample_rate must be in (0, 1], got "
                             f"{self.sample_rate}")


class _Chain(NamedTuple):
    docs: DataFrame
    provenance: DataFrame | None
    packs: DataFrame | None
    rates: dict | None


class CorpusCleanResult:
    """Outputs of `clean_corpus`: the cleaned docs, full drop provenance,
    and (optionally) the pack assignment — all lazy DataFrames."""

    def __init__(self, chain: _Chain, id_expr: Column,
                 rebuild: Callable[[list], _Chain]) -> None:
        self.docs = chain.docs
        self.provenance = chain.provenance
        self.packs = chain.packs
        self._id_expr = id_expr
        self._rebuild = rebuild
        self._observed = False
        self._drops: dict[str, int] | None = None

    def _observe(self, action: Callable[[_Chain], None]) -> None:
        """Run `action` on a rebuild of the chain whose stage outputs carry
        fresh row-count observations, and keep the per-stage drops unless
        they cannot be trusted (see stage_counts)."""
        observed: list[tuple[str, Observation]] = []
        sc = self.docs.sparkSession.sparkContext
        tag = f"nyxus-stage-counts-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            action(self._rebuild(observed))
        finally:
            sc.removeJobTag(tag)
        drops = _observed_drops(observed)
        if drops is not None and (min(drops.values(), default=0) < 0
                                  or _tasks_repeated(sc, tag)):
            drops = None
        self._drops = drops
        self._observed = True

    def stage_counts(self) -> DataFrame:
        """(drop_stage, docs_dropped) — the "where did my docs go?" audit,
        sorted by stage; a stage that dropped nothing has no row.

        Each count is rows into a stage minus rows out of it. With packing,
        the rows are counted in the first `write_epoch` pass; otherwise
        (or before any epoch is written) the first call counts them in one
        `noop` pass over the cleaned docs. The counts equal `provenance`
        per stage when `id_col` is unique. The frame is a local relation:
        collecting it runs no job.

        A pass's counts are not used, and this aggregates `provenance`
        instead, where Spark pruned a counted node (it may for empty input,
        or for a stage that drops every doc), where a drop would be
        negative (a counted node ran twice), and where a task of the pass
        failed or a partition completed twice (a stage run again, a
        speculative copy), which may merge its rows twice."""
        if not self._observed:
            self._observe(lambda c: c.docs.write.format("noop")
                          .mode("overwrite").save())
        if self._drops is None:
            return (self.provenance.groupBy("drop_stage")
                    .agg(F.count(F.lit(1)).cast("long").alias("docs_dropped"))
                    .orderBy("drop_stage"))
        spark = self.docs.sparkSession
        rows = sorted(self._drops.items()) or [("", 0)]
        values = ", ".join(f"('{s}', {n}L)" for s, n in rows)
        out = spark.sql(f"SELECT * FROM VALUES {values} "
                        "AS t(drop_stage, docs_dropped)")
        return out if self._drops else out.filter(F.lit(False))

    def write_epoch(self, path: str, epoch: int, n_files: int | None = None,
                    mode: str = "overwrite") -> None:
        """Materialize one epoch's reproducible global training order
        (sinks.write_training_order: range-partition + in-partition sort on
        the epoch-shuffle key — non-overlapping sorted files). By default
        AQE sizes the files from the data, at most Spark's initial shuffle
        partition count; with AQE's default size settings a corpus under
        1 MB of shuffle output is one file (the rules, and the count with
        AQE off, are in write_training_order). An explicit `n_files` asks
        for exactly that many range partitions, which AQE leaves as they
        are. With packing, the first write also counts the rows each stage
        keeps (see stage_counts)."""
        from nyxus_spark.sinks import write_training_order

        def write(src: DataFrame) -> None:
            write_training_order(src, path, epoch, self._id_expr,
                                 n_files=n_files, mode=mode)

        if self.packs is None or self._observed:
            write(self.packs if self.packs is not None else self.docs)
        else:
            # The range partitioner's sample job runs the plan above the
            # write's last shuffle a second time, so an observation there
            # counts its rows twice. Packing's window is a shuffle above
            # every stage output; without packing the last stages sit above
            # no shuffle, so that write is not observed.
            self._observe(lambda c: write(c.packs))


def _observed_drops(observed: list[tuple[str, Observation]]
                    ) -> dict[str, int] | None:
    """Per-stage drops from the row counts on the chain's input and each
    stage's output; None when Spark pruned an observed node, which leaves
    its observation without a row."""
    rows = []
    for _, obs in observed:
        try:
            rows.append(obs.get["rows"])
        except Py4JJavaError:  # the row is empty: toPyRow's assert fails
            return None
    drops = {stage: before - after for (stage, _), before, after
             in zip(observed[1:], rows, rows[1:])}
    return {s: n for s, n in drops.items() if n}


def _tasks_repeated(sc, tag: str) -> bool:
    """Whether the jobs tagged `tag` may have merged a task's observed rows
    twice. Spark merges a shuffle-map task's metrics on every successful
    attempt, so a partition that completes twice (in a stage run again
    after a fetch failure or a lost executor, or by a speculative copy)
    counts its rows again. A failed task or stage is taken as a sign of
    the first; a job the status store no longer holds counts as repeated."""
    jsc = sc._jsc.sc()
    try:  # the status store is fed by the listener bus
        jsc.listenerBus().waitUntilEmpty(60_000)
        jobs = [jsc.statusStore().job(job_id)
                for job_id in jsc.statusTracker().getJobIdsForTag(tag)]
    except Py4JJavaError:
        return True
    return any(job.numFailedTasks() or job.numFailedStages()
               or job.numCompletedTasks() > job.numCompletedIndices()
               for job in jobs)


def _dropped(before: DataFrame, after: DataFrame, stage: str,
             id_col: str) -> DataFrame:
    """Ids present before a stage but not after it, tagged with the stage
    name. Lazy left-anti join — only evaluated if provenance is read."""
    return (before.select(id_col)
            .join(after.select(id_col), id_col, "left_anti")
            .select(id_col, F.lit(stage).alias("drop_stage")))


def clean_corpus(
    df: DataFrame,
    config: PipelineConfig = PipelineConfig(),
    bench_df: DataFrame | None = None,
    embeddings_df: DataFrame | None = None,
    centroids_df: DataFrame | None = None,
    id_expr: Column | None = None,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    source_col: str = "source",
    emb_vec_col: str = "qvec",
) -> CorpusCleanResult:
    """Run the configured cleaning stages over a token table
    (doc_id, tokens, n_tok, source) and return docs + provenance + packs.

    `id_expr` is the deterministic integer identity used by sampling,
    packing, and epoch ordering (default `xxhash64(doc_id)` — pass e.g.
    ``F.expr("cast(substr(doc_id, 5) as bigint)")`` to reproduce the gate
    queries' id arithmetic exactly).

    Semantic dedup (config.semantic_threshold) takes `embeddings_df`
    (id_col + an int-quantized `emb_vec_col`, see
    similarity.quantize_embedding) and `centroids_df` (cent_id,
    cent_qvec — the SemDeDup cluster-blocking coarse quantizer, e.g. from
    similarity.kmeans_step); drops each doc whose cluster holds a lower-id
    member within the cosine threshold (operators/dedup.semdedup).
    """
    if id_expr is None:
        id_expr = F.xxhash64(F.col(id_col))
    build = partial(_chain, df, config, bench_df, embeddings_df,
                    centroids_df, id_expr, id_col, tokens_col, n_tok_col,
                    source_col, emb_vec_col)
    chain = build(None, None)
    return CorpusCleanResult(chain, id_expr, partial(build, chain.rates))


def _chain(df: DataFrame, cfg: PipelineConfig, bench_df: DataFrame | None,
           embeddings_df: DataFrame | None, centroids_df: DataFrame | None,
           id_expr: Column, id_col: str, tokens_col: str, n_tok_col: str,
           source_col: str, emb_vec_col: str, rates: dict | None,
           observed: list[tuple[str, Observation]] | None) -> _Chain:
    """Build the stage chain of `clean_corpus`. `rates` reuses already
    computed temperature rates. With an `observed` list, the input and
    every stage output carry a fresh row-count Observation, appended as
    (stage, observation) in chain order (the input's stage is ""), and
    the chain has no provenance: its observed pass reads only the docs or
    the packs."""

    def watch(frame: DataFrame, stage: str) -> DataFrame:
        if observed is None:
            return frame
        obs = Observation()
        observed.append((stage, obs))
        return frame.observe(obs, F.count(F.lit(1)).alias("rows"))

    cur = watch(df, "")
    prov: list[DataFrame] = []

    def step(nxt: DataFrame, stage: str) -> DataFrame:
        if observed is None:
            prov.append(_dropped(cur, nxt, stage, id_col))
        return watch(nxt, stage)

    # 1. length rule — pure pushdown-able predicate
    if cfg.min_tokens > 0 or cfg.max_tokens is not None:
        keep = F.col(n_tok_col) >= cfg.min_tokens
        if cfg.max_tokens is not None:
            keep = keep & (F.col(n_tok_col) <= cfg.max_tokens)
        cur = step(cur.filter(keep), "1_length")

    # 2. repetition rule — duplicate-3-gram ratio (docs shorter than the
    #    gram emit no stats row and pass, matching the operator's contract)
    if cfg.max_rep3_ratio is not None:
        from nyxus_spark.functions.text import repetition_stats

        rep = repetition_stats(cur, n=3, tokens_col=tokens_col,
                               n_tok_col=n_tok_col, id_col=id_col)
        bad = rep.filter(F.col("rep_dup_ratio") > cfg.max_rep3_ratio)
        cur = step(cur.join(bad.select(id_col), id_col, "left_anti"),
                   "2_repetition")

    # 3. decontamination — broadcast benchmark-gram probe, no corpus shuffle
    if bench_df is not None:
        from nyxus_spark.functions.text import contamination

        cm = contamination(cur, bench_df, n=cfg.decontaminate_n,
                           tokens_col=tokens_col, n_tok_col=n_tok_col,
                           id_col=id_col)
        dirty = cm.filter(F.col("is_contaminated") == 1).select(id_col)
        cur = step(cur.join(dirty, id_col, "left_anti"), "3_contaminated")

    # 4. exact dedup — lowest id per identical sequence (skew-safe agg,
    #    grouped on the array itself, so a null element is part of the key)
    if cfg.exact:
        from nyxus_spark.operators.dedup import exact_dedup

        cur = step(exact_dedup(cur, [tokens_col], id_col=id_col),
                   "4_exact_dup")

    # 5. near dedup — banded MinHash-LSH candidates, higher id of each
    #    verified pair drops (candidates only, never all-pairs)
    if cfg.near_jaccard is not None:
        from nyxus_spark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(cur, id_col=id_col, tokens_col=tokens_col,
                                  jaccard_threshold=cfg.near_jaccard)
        drop_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
        cur = step(cur.join(drop_ids, id_col, "left_anti"), "5_near_dup")

    # 5b. semantic dedup — SemDeDup cluster-blocked cosine (Σ|cluster|²
    #     candidates, never all-pairs); drops the higher id of each
    #     within-threshold cluster pair. Only docs still in the corpus take
    #     part: a doc must not lose to a near-copy an earlier stage dropped.
    if cfg.semantic_threshold is not None:
        if embeddings_df is None or centroids_df is None:
            raise ValueError(
                "semantic_threshold needs embeddings_df and centroids_df")
        from nyxus_spark.operators.dedup import semdedup

        live = embeddings_df.join(cur.select(id_col), id_col, "left_semi")
        sd = semdedup(live, centroids_df,
                      threshold=cfg.semantic_threshold,
                      id_col=id_col, vec_col=emb_vec_col)
        sem_drop = sd.filter(F.col("sd_drop") == 1).select(id_col)
        cur = step(cur.join(sem_drop, id_col, "left_anti"),
                   "5b_semantic_dup")

    # 6. segment dedup — first-wins line dedup, optional boilerplate pass,
    #    docs rebuilt from surviving segments (all-dup docs drop out)
    if cfg.segment_delim is not None:
        from nyxus_spark.operators.dedup import (
            boilerplate_segments,
            reassemble_segments,
            segment_dedup,
        )

        segs = segment_dedup(cur, delim=cfg.segment_delim,
                             tokens_col=tokens_col, n_tok_col=n_tok_col,
                             id_col=id_col, keep_tokens=True)
        if cfg.boilerplate_min_docs is not None:
            segs = boilerplate_segments(segs,
                                        min_docs=cfg.boilerplate_min_docs,
                                        id_col=id_col)
            if cfg.drop_boilerplate:
                segs = segs.withColumn(
                    "seg_kept",
                    F.when(F.col("bp_flag") == 1, F.lit(0))
                    .otherwise(F.col("seg_kept")),
                )
        rebuilt = reassemble_segments(segs, id_col=id_col,
                                      tokens_col=tokens_col,
                                      n_tok_col=n_tok_col)
        # reattach the passthrough columns the segment table does not carry
        side = cur.drop(tokens_col, n_tok_col)
        cur = step(rebuilt.join(side, id_col)
                   .select(id_col, tokens_col, n_tok_col, *[
                       c for c in side.columns if c != id_col]),
                   "6_all_segments_dup")

    # 7. mixture sampling — temperature rates per source, or a flat rate;
    #    both on the shared deterministic hash (nested & re-derivable)
    if cfg.temperature_alpha is not None:
        from nyxus_spark.functions.text import (
            stratified_keep,
            temperature_rates,
        )

        if rates is None:
            rates = temperature_rates(cur, stratum_col=source_col,
                                      alpha=cfg.temperature_alpha)
        cur = step(cur.filter(stratified_keep(rates, source_col, id_expr)),
                   "7_mixture_sample")
    elif cfg.sample_rate is not None:
        from nyxus_spark.functions.text import deterministic_sample

        cur = step(deterministic_sample(cur, cfg.sample_rate, id_expr),
                   "7_sample")

    # 8. packing — shard-local concat-then-chunk context windows
    packs = None
    if cfg.pack_capacity is not None:
        from nyxus_spark.operators.packing import pack_sequences

        packs = pack_sequences(cur, cfg.pack_capacity, id_expr,
                               n_shards=cfg.pack_shards, len_col=n_tok_col)

    if observed is not None:
        provenance = None
    elif prov:
        provenance = reduce(lambda a, b: a.unionByName(b), prov)
    else:
        provenance = df.sparkSession.createDataFrame([], StructType([
            df.schema[id_col], StructField("drop_stage", StringType())]))
    return _Chain(cur, provenance, packs, rates)
