"""Wave-19 operators: deterministic FIM transform stats and the
order-independent corpus digest — pinned against Python references."""

import random

import pyspark.sql.functions as F
import pytest

from nyxus_spark.functions.text import corpus_digest, fim_stats

P31 = 2147483647


def _h(nid, mix):
    return ((((nid % P31) * mix) % P31) * mix) % P31


def _ref_fim(nid, toks, rate=0.5):
    n = len(toks)
    app = _h(nid, 40692) < int(P31 * rate)
    i = _h(nid, 48271) % (n + 1)
    j = i + _h(nid, 69621) % (n - i + 1)
    if app:
        ro = toks[:i] + toks[j:] + toks[i:j]
        lens = (i, j - i, n - j)
    else:
        ro = toks
        lens = (n, 0, 0)
    cs = sum(t * (k + 1) for k, t in enumerate(ro)) % 1000003
    return int(app), lens, cs


@pytest.fixture(scope="module")
def fimdf(spark):
    rng = random.Random(31)
    rows = [(i, [rng.randrange(200) for _ in range(rng.randint(0, 30))])
            for i in range(80)]
    return spark.createDataFrame(
        rows, "doc_id long, tokens array<int>").withColumn(
        "n_tok", F.size("tokens").cast("long")).cache()


def test_fim_matches_reference(fimdf):
    cols = fim_stats("doc_id")
    got = fimdf.select("doc_id", "tokens",
                       *[v.alias(k) for k, v in cols.items()]).collect()
    applied = 0
    for r in got:
        app, (pl, ml, sl), cs = _ref_fim(r.doc_id, list(r.tokens))
        assert r.fim_applied == app, r.doc_id
        assert (r.fim_prefix_len, r.fim_middle_len, r.fim_suffix_len) \
            == (pl, ml, sl), r.doc_id
        assert r.fim_checksum == cs, r.doc_id
        applied += app
    # the hash-decided application rate must actually mix (not all-or-none)
    assert 10 <= applied <= 70


def test_fim_lengths_partition_doc(fimdf):
    cols = fim_stats("doc_id")
    got = fimdf.select("n_tok", *[v.alias(k) for k, v in cols.items()]).collect()
    for r in got:
        assert (r.fim_prefix_len + r.fim_middle_len + r.fim_suffix_len
                == r.n_tok)


def test_fim_checksum_order_sensitive(spark):
    """The checksum must distinguish the PSM reorder from the original
    stream whenever the reorder actually moves tokens."""
    df = spark.createDataFrame(
        [(i, list(range(1, 21))) for i in range(40)],
        "doc_id long, tokens array<int>")
    cols = fim_stats("doc_id", n_tok_col="size(tokens)")
    orig = F.expr(
        "aggregate(zip_with(tokens, sequence(1, size(tokens)),"
        " (t, k) -> cast(t as bigint) * k), 0L, (a, x) -> a + x) % 1000003")
    got = df.select(cols["fim_applied"].alias("app"),
                    cols["fim_middle_len"].alias("ml"),
                    cols["fim_suffix_len"].alias("sl"),
                    cols["fim_checksum"].alias("cs"),
                    orig.alias("ocs")).collect()
    moved = [r for r in got if r.app == 1 and r.ml > 0 and r.sl > 0]
    assert moved, "fixture produced no genuinely reordered docs"
    assert all(r.cs != r.ocs for r in moved)


def test_fim_rate_validation():
    with pytest.raises(ValueError):
        fim_stats("doc_id", rate=1.5)


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
