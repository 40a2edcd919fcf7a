"""Top-level NyxusSpark API (the reference's `Nyxus(...)` entry point,
nyxus.py:145-506, recast): constructor knobs, the four featurize flavors,
and parity with the underlying engine calls."""

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyxus_spark import NyxusSpark
from nyxus_spark.features import extract_features
from nyxus_spark.sources import probes, tokens_static, tokens_versions


def test_featurize_matches_extract_features(spark, sf_dir):
    t = tokens_static(spark, sf_dir)
    api = NyxusSpark(["MEAN", "ENTROPY", "GLCM_CONTRAST"]).featurize(t).toPandas()
    eng = extract_features(t, ["MEAN", "ENTROPY", "GLCM_CONTRAST"],
                           keep_tokens=False).toPandas()
    api = api.sort_values("doc_id").reset_index(drop=True)
    eng = eng.sort_values("doc_id").reset_index(drop=True)
    for c in ("MEAN", "ENTROPY", "GLCM_CONTRAST"):
        assert np.allclose(api[c], eng[c], equal_nan=True)


def test_featurize_memory_and_gray_depth(spark):
    api = NyxusSpark(["MEAN", "ENTROPY", "IH_NUM_BINS"], coarse_gray_depth=32)
    out = api.featurize_memory(spark, [[1, 2, 3, 4], [5, 5, 9]]).toPandas()
    assert len(out) == 2
    assert out["MEAN"].tolist() == [2.5, pytest.approx(19 / 3)]
    # coarse_gray_depth must reach the IH histogram (reference nyxus.py:169)
    assert out["IH_NUM_BINS"].dropna().unique().tolist() == [32.0]


def test_coarse_gray_depth_zero_raises():
    # 0 bins would fail inside the worker (*ALL*), read ENTROPY/UNIFORMITY
    # as -0.0/0.0 and switch texture to identity binning without a word
    with pytest.raises(ValueError, match="coarse_gray_depth.*ibsi=True"):
        NyxusSpark(["*ALL*"], coarse_gray_depth=0)
    nx = NyxusSpark(["*ALL*"])
    with pytest.raises(ValueError, match="coarse_gray_depth.*ibsi=True"):
        nx.set_params(coarse_gray_depth=0)
    assert nx.get_params("coarse_gray_depth") == {"coarse_gray_depth": 64}
    # negative depths select radiomics binning and stay valid
    assert NyxusSpark(coarse_gray_depth=-16).get_params("n_bins") == {
        "n_bins": -16}


@pytest.mark.parametrize("params,match", [
    (dict(features=["ENERGY"], coarse_gray_depth=0), "coarse_gray_depth"),
    (dict(offset=3, bogus=1), "Invalid parameter: bogus"),
])
def test_set_params_is_atomic(params, match):
    """A set_params call that raises changes no parameter, including the
    valid keys given before the bad one."""
    nx = NyxusSpark(["MEAN"])
    before = nx.get_params()
    with pytest.raises(ValueError, match=match):
        nx.set_params(**params)
    assert nx.get_params() == before


def test_featurize_memory_doc_ids_length_must_match(spark):
    api = NyxusSpark(["MEAN"])
    toks = [[1, 2], [3, 4], [5, 6]]
    for ids in (["a"], ["a", "b", "c", "d"], []):
        with pytest.raises(ValueError, match="doc_ids"):
            api.featurize_memory(spark, toks, doc_ids=ids)
    out = api.featurize_memory(spark, toks, doc_ids=["a", "b", "c"]).toPandas()
    assert sorted(out["doc_id"]) == ["a", "b", "c"]


def test_featurize_path(spark, sf_dir, tmp_path):
    t = tokens_static(spark, sf_dir).limit(20)
    p = str(tmp_path / "toks")
    t.write.parquet(p)
    out = NyxusSpark(["COUNT"]).featurize_path(spark, p).toPandas()
    assert len(out) == 20 and "COUNT" in out.columns


def test_featurize_asof_no_leakage(spark, sf_dir):
    v = tokens_versions(spark, sf_dir).select("doc_id", "ts", "tokens", "n_tok")
    p = probes(spark, sf_dir)
    out = NyxusSpark(["MEAN", "COUNT"]).featurize_asof(p, v, keep_tokens=False)
    rows = out.select("ts", "matched_ts", "MEAN").collect()
    assert rows
    assert not [r for r in rows if r["matched_ts"] and r["matched_ts"] > r["ts"]]


def test_featurize_annotations_passthrough(spark, sf_dir):
    """anno{i} passthrough (reference output_2_csv.cpp:62-80): named input
    columns ride through the kernel pass as string columns ahead of the
    features, with validation of missing and clashing names."""
    import pytest as _pytest

    t = tokens_static(spark, sf_dir).limit(10)
    out = NyxusSpark(["MEAN"]).featurize(t, annotations=["source", "n_tok"])
    pdf = out.toPandas()
    assert {"anno0", "anno1", "MEAN"} <= set(pdf.columns)
    assert pdf["anno0"].equals(pdf["source"].astype(str))
    assert pdf["anno1"].tolist() == [str(v) for v in pdf["n_tok"].tolist()]
    with _pytest.raises(ValueError, match="not in input"):
        NyxusSpark(["MEAN"]).featurize(t, annotations=["nope"])
    clash = t.withColumnRenamed("source", "anno0")
    with _pytest.raises(ValueError, match="already present"):
        NyxusSpark(["MEAN"]).featurize(clash, annotations=["n_tok"])


def test_set_get_params(spark, sf_dir):
    """Reference set_params/get_params contract (nyxus.py:757-860): unknown
    keys raise; coarse_gray_depth drives both binnings; ibsi toggles
    identity grey binning; params actually change the output."""
    import pytest
    from pyspark.sql import functions as F

    from nyxus_spark.sources import tokens_static

    nx = NyxusSpark(["IH_NUM_BINS"])
    assert nx.get_params()["coarse_gray_depth"] == 64
    nx.set_params(coarse_gray_depth=32)
    p = nx.get_params("coarse_gray_depth", "n_bins")
    assert p == {"coarse_gray_depth": 32, "n_bins": 32}
    with pytest.raises(ValueError, match="Invalid parameter"):
        nx.set_params(pixels_per_micron=1.0)
    with pytest.raises(ValueError, match="Invalid parameter"):
        nx.get_params("use_gpu_device")
    nx.set_params(ibsi=True)
    assert nx.get_params("ibsi") == {"ibsi": True}
    nx.set_params(ibsi=False)
    assert nx.get_params("ibsi")["ibsi"] is False

    t = tokens_static(spark, sf_dir).filter(
        F.array_max("tokens") > F.array_min("tokens")).limit(4)
    out = nx.featurize(t).select("IH_NUM_BINS").collect()
    assert all(r[0] == 32.0 for r in out)  # the param reached the kernel
