"""Data-selection operators: greedy maximum-coverage (set-cover) selection.

Evaluation-set and benchmark curation often needs a small set of docs that
together exercise as much of the corpus as possible ("choose k docs that
cover the most distinct shingles") rather than a top-k by one score.
`greedy_set_cover` is the (1−1/e)-approximate greedy walk for that problem,
with deterministic tie-breaks so its picks are exactly checkable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["greedy_set_cover"]


def greedy_set_cover(
    df: DataFrame,
    k: int = 8,
    id_col: str = "oid",
    set_col: str = "ts",
) -> DataFrame:
    """Greedy maximum-coverage selection (the (1−1/e)-approximate set-cover
    walk): pick k rows whose element sets add the most NEW coverage, ties to
    the lowest id — the eval-set / benchmark-coverage curation primitive
    ("choose k docs that exercise the most distinct shingles").

    Scale shape mirrors `greedy_kcenter`: each of the k rounds is one
    narrow scan of the UNPICKED rows — gain = count of distinct elements
    not yet covered, computed by exploding the set column into a broadcast
    LEFT-ANTI join against the covered-element DataFrame (covered state is
    DATA bounded by the UNIVERSE size, never an expression literal, so the
    plan stays constant-size as coverage grows) — followed by a
    TakeOrderedAndProject of ONE row; k rows total cross the driver, never
    the corpus. Already-picked ids are excluded each round, so the result
    is k DISTINCT docs (fewer iff the corpus has < k rows). Deterministic
    end-to-end, so a recursive-CTE oracle replays every pick.

    `set_col` is treated as a SET: duplicate elements inside one array
    count once (callers pass array_distinct'd shingle sets).

    Returns (id_col, sc_step, sc_gain): the picked ids, pick order
    1..k, and each pick's marginal coverage gain (exact ints).
    """
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16] (k driver probe rounds), got {k}")
    spark = df.sparkSession
    covered: set = set()
    picks = []
    base = df.select(id_col, set_col)
    for step in range(1, k + 1):
        cand = base
        if picks:
            cand = base.filter(~F.col(id_col).isin([p[0] for p in picks]))
        ex = cand.select(id_col, F.explode(set_col).alias("__e")).distinct()
        if covered:
            cov_df = spark.createDataFrame(
                [(int(x),) for x in sorted(covered)], "__ce long"
            )
            ex = ex.join(
                F.broadcast(cov_df),
                ex["__e"].cast("long") == F.col("__ce"),
                "left_anti",
            )
        gains = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("__g"))
        best_rows = (
            cand.join(gains, id_col, "left")
            .withColumn("__g", F.coalesce("__g", F.lit(0)))
            .orderBy(F.col("__g").desc(), F.col(id_col).asc())
            .select(id_col, set_col, "__g")
            .limit(1)
            .collect()
        )
        if not best_rows:
            break  # corpus exhausted before k picks
        best = best_rows[0]
        picks.append((int(best[id_col]), step, int(best["__g"])))
        covered |= set(int(x) for x in best[set_col])
    return spark.createDataFrame(
        picks, f"{id_col} long, sc_step long, sc_gain long"
    )
