"""Hot-key as-of join: the salted plan equals the plain plan.

The north-rule skew story is the explicit time-slice pre-split
(`salt_slices`). This test collapses every version/probe onto one hot doc_id
(worst-case skew) and asserts that the plain union_window plan and the
salted plan return identical rows.
"""

from pyspark.sql import functions as F

from nyxus_spark.operators import asof_join
from nyxus_spark.sources import probes, tokens_versions


def _hot(spark, sf_dir):
    # the hot key is derived from a data column (not F.lit), so it is not
    # constant-folded away; the repartitions give the shuffle >1 map task,
    # the shape a real hot source has
    hot_key = F.concat(F.lit("hot"), F.substring(F.col("doc_id"), 1, 0))
    v = (
        tokens_versions(spark, sf_dir)
        .select(hot_key.alias("doc_id"), "ts", "n_tok")
        .dropDuplicates(["ts"])
        .repartition(8, "ts")
    )
    p = (
        probes(spark, sf_dir)
        .select(hot_key.alias("doc_id"), "ts", "event_id")
        .repartition(8, "event_id")
    )
    return p, v


def _norm(df):
    return (
        df.select("doc_id", "event_id", "ts", "matched_ts", "n_tok")
        .toPandas()
        .sort_values(["doc_id", "event_id"])
        .reset_index(drop=True)
    )


def test_hot_key_salted_equals_plain(spark):
    # sf0.01: a hot key ten times the default test scale
    sf_dir = "/root/testdata/sf0.01"
    p, v = _hot(spark, sf_dir)
    plain = _norm(asof_join(p, v))
    salted = _norm(asof_join(p, v, salt_slices=8))
    assert plain.equals(salted)
