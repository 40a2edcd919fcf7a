"""Top-level user API mirroring the reference's Python entry point.

The reference exposes `Nyxus(features, **params)` with `featurize` (in-memory
arrays), `featurize_directory` / `featurize_files` (path sources)
(/root/reference/src/nyx/python/nyxus/nyxus.py:145-506). This module is the
Spark-first counterpart: construct once with a feature selection + settings,
then featurize DataFrames, parquet/Iceberg paths, in-memory token lists, or
point-in-time (probes, versions) pairs. A reference user maps:

    Nyxus(["*ALL*"]).featurize(I, M)          → NyxusSpark(["*ALL*"]).featurize_memory(spark, tokens)
    Nyxus(f).featurize_directory(dir)         → NyxusSpark(f).featurize_path(spark, path)
    per-(image, ROI, t_index) wide row        → per-(doc_id[, ts]) wide row

All heavy lifting stays in the existing engine modules: extract_features
(narrow mapInArrow kernels), asof_join (point-in-time), sinks.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from nyxus_spark.features import extract_features
from nyxus_spark.settings import DEFAULT_SETTINGS, FeatureSettings


def _gray_depth(value) -> int:
    """A `coarse_gray_depth` as an int. Negative depths select radiomics
    binning; 0 would mean zero histogram bins and identity texture binning,
    so it raises and points to `ibsi=True`, the knob for the latter."""
    depth = int(value)
    if depth == 0:
        raise ValueError(
            "coarse_gray_depth must be nonzero; use ibsi=True for identity "
            "grey binning")
    return depth


class NyxusSpark:
    """Configured feature-extraction engine (reference: nyxus.py:145-246
    `Nyxus.__init__` — feature list + comparability-relevant knobs)."""

    def __init__(
        self,
        features: list[str] | None = None,
        settings: FeatureSettings | None = None,
        coarse_gray_depth: int | None = None,
        offset: int | None = None,
        tokens_col: str = "tokens",
    ) -> None:
        st = settings or DEFAULT_SETTINGS
        if coarse_gray_depth is not None:
            # reference coarse_gray_depth (nyxus.py:169) drives both the
            # custom histogram and the texture grey binning
            depth = _gray_depth(coarse_gray_depth)
            st = replace(st, n_bins=depth, grey_info=depth)
        if offset is not None:
            st = replace(st, offset=offset)
        self.features = features or ["*ALL*"]
        self.settings = st
        self.tokens_col = tokens_col

    # -- core ---------------------------------------------------------------

    def featurize(
        self, df: DataFrame, keep_tokens: bool = False,
        annotations: list[str] | None = None,
    ) -> DataFrame:
        """One wide feature row per input row (the reference's per-ROI
        vector, one float64 column per enabled feature), computed by the
        Arrow-vectorized kernels (`extract_features`). `annotations`
        passes input columns through as `anno{i}` strings ahead of the
        features (output_2_csv.cpp:62-80)."""
        return extract_features(
            df, self.features, settings=self.settings,
            tokens_col=self.tokens_col, keep_tokens=keep_tokens,
            annotations=annotations,
        )

    def featurize_stream(
        self, src: DataFrame, keep_tokens: bool = False,
    ) -> DataFrame:
        """Streaming featurization: the same per-row feature vector over an
        unbounded `readStream` source, through the same kernels and
        settings as `featurize`. The kernel is a stateless per-row
        `mapInArrow`, so `append` mode works with no watermark and values
        are bit-identical to batch. Start the returned stream with
        `.writeStream` + a checkpointLocation for the resumability contract
        (tests/test_streaming_restart.py)."""
        if not src.isStreaming:
            raise ValueError("featurize_stream needs a streaming DataFrame "
                             "(spark.readStream...); use featurize for batch")
        return extract_features(
            src, self.features, settings=self.settings,
            tokens_col=self.tokens_col, keep_tokens=keep_tokens,
        )

    def featurize_path(
        self, spark: SparkSession, path: str, fmt: str = "parquet",
        keep_tokens: bool = False,
    ) -> DataFrame:
        """Featurize a stored table (reference featurize_directory,
        nyxus.py:291-370; Iceberg tables pass fmt='iceberg' + table name)."""
        df = (
            spark.table(path) if fmt == "iceberg"
            else spark.read.format(fmt).load(path)
        )
        return self.featurize(df, keep_tokens=keep_tokens)

    def featurize_memory(
        self, spark: SparkSession, token_lists: list, doc_ids: list[str] | None = None,
        keep_tokens: bool = False,
    ) -> DataFrame:
        """Featurize in-memory token arrays (reference featurize over numpy
        montages, nyxus.py:373-506 — zero-copy in via Arrow). `doc_ids`,
        when given, must hold one id per token list."""
        ids = [f"doc_{i}" for i in range(len(token_lists))] if doc_ids is None else doc_ids
        if len(ids) != len(token_lists):
            raise ValueError(
                f"doc_ids has {len(ids)} ids for {len(token_lists)} token lists")
        df = spark.createDataFrame(
            [(i, [int(t) for t in toks], len(toks)) for i, toks in zip(ids, token_lists)],
            f"doc_id string, {self.tokens_col} array<int>, n_tok int",
        )
        return self.featurize(df, keep_tokens=keep_tokens)

    # -- parameter surface (reference nyxus.py:757-860 set_params/get_params)

    _PARAMS = ("features", "coarse_gray_depth", "ibsi", "offset", "offsets",
               "symmetric_glcm", "n_bins", "vocab_size", "tokens_col")

    def set_params(self, **params) -> "NyxusSpark":
        """Reference `set_params(**params)` contract (nyxus.py:757): unknown
        keys raise ValueError; known keys update the engine settings. The
        recast keeps the comparability-relevant subset — `coarse_gray_depth`
        (drives histogram AND texture binning, like the reference),
        `ibsi` (True → identity grey binning, the reference's IBSI mode),
        `offset`/`offsets`, `symmetric_glcm`, `n_bins`, `vocab_size`,
        `features`, `tokens_col`. Image-physical knobs (pixels_per_micron,
        dynamic_range, GPU ids) have no token-stream meaning and are
        intentionally NOT accepted. Returns self for chaining. The call is
        atomic: if any key raises, no parameter changes."""
        bad = [key for key in params if key not in self._PARAMS]
        if bad:
            raise ValueError(f"Invalid parameter: {bad[0]}")
        features, settings, tokens_col = (
            self.features, self.settings, self.tokens_col)
        for key, value in params.items():
            if key == "features":
                features = list(value)
            elif key == "tokens_col":
                tokens_col = value
            elif key == "coarse_gray_depth":
                depth = _gray_depth(value)
                settings = replace(settings, n_bins=depth, grey_info=depth)
            elif key == "ibsi":
                # IBSI mode = identity grey binning (texture_feature.h:101-103
                # grey_info == 0 selector)
                cur = abs(settings.grey_info) or 64
                settings = replace(settings, grey_info=0 if value else cur)
            elif key == "offsets":
                settings = replace(settings, offsets=tuple(value))
            else:
                settings = replace(settings, **{key: value})
        self.features, self.settings, self.tokens_col = (
            features, settings, tokens_col)
        return self

    def get_params(self, *args) -> dict:
        """Reference `get_params(*names)` contract (nyxus.py:821): no args →
        all parameters; unknown names raise ValueError."""
        all_params = {
            "features": list(self.features),
            "coarse_gray_depth": self.settings.n_bins,
            "ibsi": self.settings.grey_info == 0,
            "offset": self.settings.offset,
            "offsets": tuple(self.settings.offsets),
            "symmetric_glcm": self.settings.symmetric_glcm,
            "n_bins": self.settings.n_bins,
            "vocab_size": self.settings.vocab_size,
            "tokens_col": self.tokens_col,
        }
        if not args:
            return all_params
        bad = [a for a in args if a not in all_params]
        if bad:
            raise ValueError(f"Invalid parameter: {bad[0]}")
        return {a: all_params[a] for a in args}

    def featurize_asof(
        self, probes: DataFrame, versions: DataFrame, keep_tokens: bool = False,
        **asof_kwargs,
    ) -> DataFrame:
        """Point-in-time feature vectors: as-of join each probe (doc_id, ts)
        to its latest sequence version, then featurize the matched tokens —
        the engine's flagship pipeline (north-rule per-(entity, timestamp)
        vectors with zero temporal leakage)."""
        from pyspark.sql import functions as F

        from nyxus_spark.operators import asof_join

        matched = asof_join(probes, versions, **asof_kwargs).filter(
            F.col(self.tokens_col).isNotNull()
        )
        return self.featurize(matched, keep_tokens=keep_tokens)
