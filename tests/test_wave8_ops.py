"""Wave-8 operators: segment reassembly."""

from nyxus_spark.operators.dedup import reassemble_segments, segment_dedup


def test_reassemble_roundtrip_without_duplicates(spark):
    # no cross-doc duplicate segments → reassembly = original minus delims
    data = [("a", [1, 9, 2, 3], 4), ("b", [4, 5, 9, 6], 4)]
    df = spark.createDataFrame(data, "doc_id string, tokens array<int>, n_tok int")
    segs = segment_dedup(df, 9, keep_tokens=True)
    out = {r["doc_id"]: (r["tokens"], r["n_tok"])
           for r in reassemble_segments(segs).collect()}
    assert out == {"a": ([1, 2, 3], 3), "b": ([4, 5, 6], 3)}


def test_reassemble_drops_duplicate_segments_in_order(spark):
    data = [
        ("a", [1, 2, 9, 3], 4),
        ("b", [3, 9, 1, 2, 9, 7], 6),   # [3] and [1,2] both already seen in a
        ("c", [9, 9], 2),               # all segments empty → doc drops out
    ]
    df = spark.createDataFrame(data, "doc_id string, tokens array<int>, n_tok int")
    out = {r["doc_id"]: r["tokens"]
           for r in reassemble_segments(segment_dedup(df, 9, keep_tokens=True)).collect()}
    assert out["a"] == [1, 2, 3]
    assert out["b"] == [7]      # only the novel segment survives, order kept
    assert "c" not in out
