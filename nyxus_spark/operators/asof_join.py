"""Point-in-time (as-of) join — the engine's flagship operator.

Semantics: for each probe row (doc_id, ts) return the latest version row of
the same doc_id with version.ts <= probe.ts (backward as-of; zero temporal
leakage by construction). This is the 1-D analog of nyxus's intensity↔mask /
z-slice alignment (src/nyx/phase1.cpp:58-87, 130-242) recast as the
sorted-merge temporal join the north rule requires.

One plan, in two forms with identical results (cross-checked in tests):

* ``union_window`` (default) — tag probes/versions, union, one shuffle on
  doc_id, in-partition sort by (ts, tag), then last(ignorenulls) over an
  unbounded-preceding window carries the latest version payload onto each
  probe row. 100 % JVM (whole-stage codegen window), exactly one shuffle of
  probes+versions combined; handles all three match directions
  (backward/forward/nearest — pandas merge_asof semantics), tolerances and
  strict bounds.

* ``salt_slices > 1`` — the same window plan partitioned by (doc_id, time
  slice), each slice seeded with its key's state at the slice start: the
  north rule's salted repartitioning for hot sources, so one hot doc_id no
  longer serializes into one task (backward only).

AQE additionally splits skewed doc_ids' *shuffle blocks* for either form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    probes: DataFrame,
    versions: DataFrame,
    on: str = "doc_id",
    ts_col: str = "ts",
    version_prefix: str = "",
    tolerance_sec: float | None = None,
    salt_slices: int = 0,
    ts_bounds: tuple | None = None,
    direction: str = "backward",
    allow_exact_matches: bool = True,
) -> DataFrame:
    """As-of join of `probes` (left) to `versions` (right).

    ``direction`` follows pandas ``merge_asof`` exactly (tested against it):
    ``backward`` (default) matches the latest version with ts <= probe ts,
    ``forward`` the earliest version with ts >= probe ts (both inclusive),
    ``nearest`` the version minimizing |Δts|, ties broken backward. With a
    ``tolerance_sec`` (seconds, >= 0), each direction's candidate must be
    within the tolerance BEFORE nearest chooses (pandas semantics). Forward
    is the time-mirrored backward pass and nearest runs both passes over the
    same partitioning — still ONE shuffle.

    ``allow_exact_matches=False`` makes the bound strict (< / > instead of
    <= / >=, pandas knob of the same name): a version AT the probe's exact
    ts is no longer visible — the event-study "information available strictly
    before the decision" contract. In the plan this is purely a tie-ordering
    flip (probes sort before versions at equal ts), zero extra cost; for
    ``nearest`` it excludes equal-ts versions on both sides.

    Returns probe columns + matched version payload columns (version ts is
    exposed as ``matched_ts``; payload columns optionally prefixed with
    ``version_prefix``). Probes with no version at or before their ts keep
    nulls. An output name that would appear twice (a probe column named
    ``matched_ts`` or equal to a prefixed payload column) raises ValueError.

    ``salt_slices > 1`` enables the hot-key form (north-rule "salted
    repartitioning for hot sources"): every key's rows are split into that
    many *time ranges*, each slice is seeded with its key's latest version
    at-or-before the slice start (a tiny per-(key, slice) aggregate, re-used
    via one extra small window), and the union-window runs partitioned by
    (key, slice) — so a single hot doc_id no longer serializes into one
    task. Results are identical to the unsalted plan (tested). Backward
    only: the per-slice seeding is a carry-forward of past state.

    ``ts_bounds=(lo, hi)`` (datetimes or epoch-µs ints) supplies the global
    time range the slices divide, skipping the fallback min/max scan the
    salted path otherwise runs eagerly before the real job. At 100 TB pass
    the table's partition stats (Iceberg manifests carry ts min/max per
    file — no data scan needed). Bounds only steer slice BALANCE: any range
    covering the data yields identical results (rows outside clamp to the
    first/last slice; tested).
    """
    out_cols = [on, ts_col, *[c for c in probes.columns if c not in (on, ts_col)],
                "matched_ts",
                *[f"{version_prefix}{c}" for c in _payload_cols(versions, on, ts_col)]]
    clash = {c for c in out_cols if out_cols.count(c) > 1}
    if clash:
        raise ValueError(
            f"output columns {sorted(clash)} would appear twice; rename the "
            "probe column or pass another version_prefix"
        )
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    if tolerance_sec is not None and tolerance_sec < 0:
        raise ValueError(f"tolerance_sec must be >= 0, got {tolerance_sec}")
    if salt_slices and salt_slices > 1:
        if direction != "backward":
            raise ValueError("salt_slices supports only direction='backward' "
                             "(slice seeding carries past state forward)")
        return _asof_union_window_sliced(
            probes, versions, on, ts_col, version_prefix, tolerance_sec,
            salt_slices, ts_bounds, allow_exact_matches,
        )
    return _asof_union_window(probes, versions, on, ts_col, version_prefix,
                              tolerance_sec, direction, allow_exact_matches)


def _payload_cols(versions: DataFrame, on: str, ts_col: str) -> list[str]:
    return [c for c in versions.columns if c not in (on, ts_col)]


def _asof_union_window(probes, versions, on, ts_col, prefix, tolerance_sec,
                       direction="backward", allow_exact=True):
    pay = _payload_cols(versions, on, ts_col)
    probe_extra = [c for c in probes.columns if c not in (on, ts_col)]

    v = versions.select(
        F.col(on),
        F.col(ts_col),
        F.lit(0).alias("__tag"),
        F.col(ts_col).alias("__vts"),
        *[F.col(c).alias(f"__v_{c}") for c in pay],
        *[F.lit(None).cast(probes.schema[c].dataType).alias(c) for c in probe_extra],
    )
    p = probes.select(
        F.col(on),
        F.col(ts_col),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(versions.schema[ts_col].dataType).alias("__vts"),
        *[F.lit(None).cast(versions.schema[c].dataType).alias(f"__v_{c}") for c in pay],
        *probe_extra,
    )
    u = v.unionByName(p)

    # versions sort before probes at equal ts in BOTH directions → a version
    # AT the probe ts is visible (as-of is inclusive), never one beyond it.
    # Strict bounds (allow_exact=False) flip ONLY that tie order — probes
    # sort before versions at equal ts, so the carried version is strictly
    # earlier/later; the plan is otherwise identical (zero extra cost).
    # forward is the time-mirrored backward pass: same partitioning, DESC
    # sort, so last(ignorenulls) carries the EARLIEST version >= the probe.
    def carry(desc):
        order = F.col(ts_col).desc() if desc else F.col(ts_col).asc()
        tag_order = F.col("__tag").asc() if allow_exact else F.col("__tag").desc()
        w = (
            Window.partitionBy(on)
            .orderBy(order, tag_order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            F.last("__vts", ignorenulls=True).over(w),
            {c: F.last(f"__v_{c}", ignorenulls=True).over(w) for c in pay},
        )

    def tol_gate(mts, carried, delta):
        if tolerance_sec is None:
            return mts, carried
        within = delta <= F.lit(tolerance_sec)
        return (F.when(within, mts),
                {c: F.when(within, e) for c, e in carried.items()})

    ts_d = F.col(ts_col).cast("double")
    if direction in ("backward", "forward"):
        fwd = direction == "forward"
        mts, carried = carry(fwd)
        out = (
            u.select(F.col(on), F.col(ts_col), F.col("__tag"), *probe_extra,
                     mts.alias("matched_ts"),
                     *[carried[c].alias(f"{prefix}{c}") for c in pay])
            .filter(F.col("__tag") == 1)
            .drop("__tag")
        )
        if tolerance_sec is not None:
            m_d = F.col("matched_ts").cast("double")
            delta = (m_d - ts_d) if fwd else (ts_d - m_d)
            mts2, carried2 = tol_gate(
                F.col("matched_ts"),
                {c: F.col(f"{prefix}{c}") for c in pay}, delta)
            out = out.select(
                on, ts_col, *probe_extra, mts2.alias("matched_ts"),
                *[carried2[c].alias(f"{prefix}{c}") for c in pay],
            )
        return out

    # nearest: both passes share the one Exchange (same partitioning, two
    # Sort nodes); per-direction tolerance gates BEFORE the choice, ties at
    # equal |Δ| go backward — pandas merge_asof semantics exactly.
    bmts, bcar = carry(False)
    fmts, fcar = carry(True)
    base = (
        u.select(F.col(on), F.col(ts_col), F.col("__tag"), *probe_extra,
                 bmts.alias("__bts"), fmts.alias("__fts"),
                 *[bcar[c].alias(f"__b_{c}") for c in pay],
                 *[fcar[c].alias(f"__f_{c}") for c in pay])
        .filter(F.col("__tag") == 1)
        .drop("__tag")
    )
    bts, fts = tol_gate(
        F.col("__bts"), {c: F.col(f"__b_{c}") for c in pay},
        ts_d - F.col("__bts").cast("double"),
    ), tol_gate(
        F.col("__fts"), {c: F.col(f"__f_{c}") for c in pay},
        F.col("__fts").cast("double") - ts_d,
    )
    (bmts2, bcar2), (fmts2, fcar2) = bts, fts
    use_b = bmts2.isNotNull() & (
        fmts2.isNull()
        | (ts_d - bmts2.cast("double") <= fmts2.cast("double") - ts_d)
    )
    return base.select(
        on, ts_col, *probe_extra,
        F.when(use_b, bmts2).otherwise(fmts2).alias("matched_ts"),
        *[F.when(use_b, bcar2[c]).otherwise(fcar2[c]).alias(f"{prefix}{c}")
          for c in pay],
    )


def _asof_union_window_sliced(probes, versions, on, ts_col, prefix,
                              tolerance_sec, n_slices, ts_bounds=None,
                              allow_exact=True):
    """Hot-key-safe as-of: uniform global time slices + per-slice seeding.

    1. rows map to slice = floor((ts − t0)/width) — a pure projection, so no
       per-key sort is ever needed on the full data;
    2. per (key, slice) the latest version is a partial-aggregatable
       max_by(struct, ts); the seed of slice s = latest version in any
       earlier slice, computed with a window over at most n_slices rows per
       key (a tiny grid of keys × slices — never hot);
    3. the union-window then partitions by (key, slice): a hot key spreads
       over n_slices tasks while every probe still sees exactly the versions
       at-or-before it (its slice's seed + in-slice versions ≤ ts).
    """
    pay = _payload_cols(versions, on, ts_col)
    probe_extra = [c for c in probes.columns if c not in (on, ts_col)]

    import datetime

    def to_us(t, default):
        if isinstance(t, datetime.datetime):
            return int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
        if isinstance(t, (int, float)):
            return int(t)
        return default

    if ts_bounds is not None:
        lo_us = to_us(ts_bounds[0], 0)
        hi_us = to_us(ts_bounds[1], 1)
    else:
        # fallback: eager min/max scan (driver sync before the real job) —
        # fine at test scale; at 100 TB pass ts_bounds from partition stats
        bounds = (
            versions.select(F.col(ts_col).alias("t"))
            .unionByName(probes.select(F.col(ts_col).alias("t")))
            .agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
            .first()
        )
        lo_us = to_us(bounds["lo"], 0)
        hi_us = to_us(bounds["hi"], 1)
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    width = max((hi_us - lo_us) // n_slices + 1, 1)

    def slice_of(col):
        return F.least(
            F.greatest((us(col) - F.lit(lo_us)) / F.lit(width), F.lit(0)).cast("int"),
            F.lit(n_slices - 1),
        )

    v = versions.withColumn("__slice", slice_of(F.col(ts_col)))
    p = probes.withColumn("__slice", slice_of(F.col(ts_col)))

    # per-(key, slice) latest version, then carry forward across the tiny
    # per-key slice grid to get each slice's seed (state at slice start)
    latest = v.groupBy(on, "__slice").agg(
        F.max_by(F.struct(F.col(ts_col).alias("__vts"), *[F.col(c).alias(c) for c in pay]), F.col(ts_col)).alias("__st")
    )
    grid = (
        v.select(on).distinct()
        .crossJoin(F.broadcast(
            versions.sparkSession.range(n_slices).select(F.col("id").cast("int").alias("__slice"))
        ))
    )
    wseed = (
        Window.partitionBy(on)
        .orderBy(F.col("__slice").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seeds = (
        grid.join(latest, [on, "__slice"], "left")
        .withColumn("__seed", F.last("__st", ignorenulls=True).over(wseed))
        .filter(F.col("__seed").isNotNull())
        .select(
            F.col(on),
            F.col("__slice"),
            F.col("__seed.__vts").alias("__vts"),
            *[F.col(f"__seed.{c}").alias(c) for c in pay],
        )
    )

    def tagged(df, tag, vts_col, with_pay, probe_cols_present):
        cols = [
            F.col(on),
            F.col("__slice"),
            (F.col(ts_col) if tag != -1 else F.lit(None).cast(versions.schema[ts_col].dataType)).alias(ts_col),
            F.lit(tag).alias("__tag"),
            vts_col.alias("__vts"),
        ]
        for c in pay:
            cols.append((F.col(c) if with_pay else F.lit(None).cast(versions.schema[c].dataType)).alias(f"__v_{c}"))
        for c in probe_extra:
            cols.append(
                (F.col(c) if probe_cols_present else F.lit(None).cast(probes.schema[c].dataType)).alias(c)
            )
        return df.select(*cols)

    u = (
        tagged(seeds, -1, F.col("__vts"), True, False)
        .unionByName(tagged(v, 0, F.col(ts_col), True, False))
        .unionByName(tagged(p, 1, F.lit(None).cast(versions.schema[ts_col].dataType), False, True))
    )
    # seeds (__tag = -1, null ts) sort first via nulls-first; then by (ts,
    # tag) — strict bounds flip the equal-ts tie so probes precede versions
    # (a seed version from an earlier slice is strictly earlier by
    # construction: equal timestamps land in the SAME slice)
    tag_order = F.col("__tag").asc() if allow_exact else F.col("__tag").desc()
    w = (
        Window.partitionBy(on, "__slice")
        .orderBy(F.col(ts_col).asc_nulls_first(), tag_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = [F.last(f"__v_{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}") for c in pay]
    matched_ts = F.last("__vts", ignorenulls=True).over(w).alias("matched_ts")
    out = (
        u.select(F.col(on), F.col(ts_col), F.col("__tag"), *probe_extra, matched_ts, *carried)
        .filter(F.col("__tag") == 1)
        .drop("__tag")
    )
    if tolerance_sec is not None:
        within = F.col(ts_col).cast("double") - F.col("matched_ts").cast("double") <= F.lit(tolerance_sec)
        out = out.select(
            on, ts_col, *probe_extra,
            F.when(within, F.col("matched_ts")).alias("matched_ts"),
            *[F.when(within, F.col(f"{prefix}{c}")).alias(f"{prefix}{c}") for c in pay],
        )
    return out


def asof_join_tombstones(
    probes: DataFrame,
    versions: DataFrame,
    on: str = "doc_id",
    ts_col: str = "ts",
    tombstone_col: str = "deleted",
    version_prefix: str = "",
    **kwargs,
) -> DataFrame:
    """Point-in-time join with DELETION semantics — the feature-store
    tombstone contract: a version row whose `tombstone_col` is truthy
    ERASES its key's state at that timestamp. A probe whose latest visible
    version is a tombstone gets NULLs (matched_ts included), exactly as if
    no version had ever existed — it must NOT resurrect the value before
    the delete, and a later re-insert becomes visible again only from its
    own timestamp on.

    Implementation: the flag rides the normal as-of plan as one extra
    payload column, and matched version columns are nulled when the flag
    on the MATCHED row is set — same shuffle count and same physical plan
    as `asof_join` (every salting/direction kwarg passes through).

    Reference analog: nyxus ROI blacklists remove a label from every
    downstream aggregation (src/nyx/roi_blacklist.h); here
    the removal is temporal — scoped to the interval from the tombstone to
    the next live version."""
    if tombstone_col not in versions.columns:
        raise ValueError(
            f"versions has no tombstone column {tombstone_col!r}; "
            f"columns = {versions.columns}"
        )
    out = asof_join(probes, versions, on=on, ts_col=ts_col,
                    version_prefix=version_prefix, **kwargs)
    flag = f"{version_prefix}{tombstone_col}"
    dead = F.coalesce(F.col(flag).cast("boolean"), F.lit(False))
    vcols = {"matched_ts"} | {
        f"{version_prefix}{c}"
        for c in versions.columns
        if c not in (on, ts_col, tombstone_col)
    }
    sel = []
    for c in out.columns:
        if c == flag:
            continue
        if c in vcols:
            sel.append(
                F.when(dead, F.lit(None).cast(out.schema[c].dataType))
                .otherwise(F.col(c)).alias(c)
            )
        else:
            sel.append(F.col(c))
    return out.select(*sel)
