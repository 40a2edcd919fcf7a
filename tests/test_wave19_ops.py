"""Wave-19 operators: the order-independent corpus digest — pinned against
a Python reference."""

import random

import pyspark.sql.functions as F

from nyxus_spark.functions.text import corpus_digest


def test_corpus_digest_reference(spark):
    rng = random.Random(7)
    rows = [(i, f"g{i % 3}", [rng.randrange(99) for _ in range(rng.randint(0, 12))])
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, tokens array<int>").withColumn(
        "n_tok", F.size("tokens").cast("long"))
    got = {r.source: r for r in corpus_digest(df).collect()}
    ref = {}
    for _i, src, toks in rows:
        h = (sum(t * (k + 1) for k, t in enumerate(toks)) % 1000003) * 131 \
            + len(toks)
        x, s, c = ref.get(src, (0, 0, 0))
        ref[src] = (x ^ h, s + h, c + 1)
    for src, (x, s, c) in ref.items():
        g = got[src]
        assert (g.digest_xor, g.digest_sum, g.digest_docs) == (x, s, c), src


def test_corpus_digest_detects_any_change(spark):
    base = [(0, "g", [1, 2, 3], 3), (1, "g", [4, 5], 2)]
    changed = [(0, "g", [1, 2, 4], 3), (1, "g", [4, 5], 2)]  # one token edit
    schema = "doc_id long, source string, tokens array<int>, n_tok long"
    d0 = corpus_digest(spark.createDataFrame(base, schema)).first()
    d1 = corpus_digest(spark.createDataFrame(changed, schema)).first()
    assert (d0.digest_xor, d0.digest_sum) != (d1.digest_xor, d1.digest_sum)


def test_corpus_digest_order_independent(spark):
    rows = [(i, "g", [i, i + 1, i + 2], 3) for i in range(20)]
    schema = "doc_id long, source string, tokens array<int>, n_tok long"
    a = corpus_digest(spark.createDataFrame(rows, schema)).first()
    b = corpus_digest(
        spark.createDataFrame(rows[::-1], schema).repartition(7)).first()
    assert (a.digest_xor, a.digest_sum, a.digest_docs) \
        == (b.digest_xor, b.digest_sum, b.digest_docs)
