"""External-reference parity: our as-of join vs Spark's OWN pandas-API
`pyspark.pandas.merge_asof` (which lowers to its independent Catalyst
plan) — a second, engine-internal implementation of point-in-time join
semantics that our operator must agree with row-for-row, in all three
match directions. Complements the DuckDB ASOF oracle (a third engine)
and the pandas `merge_asof` matrix in test_asof_directions.py: this one
exercises Spark's native lowering.
"""

import warnings

import pytest
from pyspark.sql import functions as F

from nyxus_spark.operators import asof_join
from nyxus_spark.sources import probes, tokens_versions


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_asof_matches_pyspark_pandas_merge_asof(spark, sf_dir, direction):
    warnings.filterwarnings("ignore")
    import pyspark.pandas as ps

    p = probes(spark, sf_dir).select("doc_id", "ts", "event_id")
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "n_tok")

    ours = asof_join(p, v, direction=direction).select(
        "event_id", F.col("n_tok").alias("match_n_tok")
    )
    got = {r.event_id: r.match_n_tok for r in ours.collect()}

    lp = ps.DataFrame(p).sort_values("ts")
    rv = ps.DataFrame(
        v.withColumnRenamed("ts", "vts").withColumnRenamed("n_tok", "ps_n_tok")
        .withColumn("ts", F.col("vts")).drop("vts")
    ).sort_values("ts")
    ref = ps.merge_asof(
        lp, rv, on="ts", by="doc_id", direction=direction
    ).to_pandas()
    exp = {int(r.event_id): (None if r.ps_n_tok != r.ps_n_tok else int(r.ps_n_tok))
           for r in ref.itertuples()}

    assert set(got) == set(exp)
    diff = {e: (got[e], exp[e]) for e in got
            if (got[e] is None) != (exp[e] is None)
            or (got[e] is not None and int(got[e]) != exp[e])}
    assert not diff, f"{direction}: {len(diff)} mismatches, e.g. {list(diff.items())[:5]}"
