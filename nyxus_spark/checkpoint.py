"""Per-partition checkpointing with lineage IDs and throughput metrics.

North-rule requirement (BASELINE.json): "resumable from per-partition
checkpoints carrying lineage IDs and throughput metrics". The reference has no
counterpart (its closest analog is its memory-bounded batch scheduler, which
frees and re-scans ROI batches); this is the distributed re-design:

* the output keyspace is split into N deterministic buckets
  (pmod(xxhash64(key, lit(BUCKET_SEED)), N));
* the input DataFrame is computed once per run: when more than one bucket is
  pending it is persisted (memory, spilling to disk), the first bucket job
  fills that cache and every other bucket job filters the cached frame, so
  the upstream plan (feature kernels included) crosses into Python once;
* each bucket is written as its own Spark job to `<path>/bucket=<i>/`, its
  rows counted in the same job by a `DataFrame.observe`, then committed by
  writing a small manifest JSON to `<path>/_manifest/<i>.json` with rows,
  wall ms, the bucket count, the key column and a lineage ID =
  sha256(run_spec | bucket). The first pending bucket's `wall_ms` carries the
  upstream compute, the others only their share of the cached frame;
* a re-run with the same path skips every committed bucket — killing the job
  mid-run loses at most the in-flight bucket. A resume computes the upstream
  once more, filtered to the pending buckets only. A re-run with another
  run_spec, bucket count or key column raises ValueError instead of mixing
  two lineages or two splits, and run_spec must be non-empty so that two
  different jobs do not share a lineage by default.

Manifests are written with driver-side `os.*` calls, so the path must be a
plain path or a `file:` URI; any other scheme (hdfs://, s3a://, …) raises
ValueError before a Spark job runs.

`BUCKET_SEED` is not used as a hash seed: `xxhash64(key, lit(42))` hashes it
as a second column. It must stay as it is, because changing it (or the hash
expression) re-buckets every existing checkpoint.

Bucketing the input instead (filtering below the feature `MapInArrow`, or
pruning an Iceberg `bucket(doc_id)` scan) still starts one Python task per
input split in every bucket job, so on unbucketed input it was measured no
faster than re-running the whole plan per bucket; one cached computation is.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from urllib.parse import urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

BUCKET_SEED = 42


def bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col), F.lit(BUCKET_SEED)), F.lit(n_buckets))


def _lineage_id(run_spec: str, bucket: int) -> str:
    return hashlib.sha256(f"{run_spec}|{bucket}".encode()).hexdigest()[:16]


def _local_dir(path: str) -> str:
    """`path` as a driver filesystem path for the manifest `os.*` calls:
    plain paths pass, `file:` URIs lose their scheme, anything else raises."""
    u = urlparse(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    raise ValueError(
        f"checkpoint path {path!r} has scheme {u.scheme!r}"
        + (f" and host {u.netloc!r}" if u.netloc else "")
        + "; manifests are written with driver-local file calls, so only "
        "plain paths and file: URIs are supported"
    )


def committed_buckets(path: str) -> dict[int, dict]:
    mdir = os.path.join(_local_dir(path), "_manifest")
    out: dict[int, dict] = {}
    if os.path.isdir(mdir):
        for f in os.listdir(mdir):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    m = json.load(fh)
                out[m["bucket"]] = m
    return out


def checkpointed_write(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    n_buckets: int = 16,
    run_spec: str = "",
    _fail_after: int | None = None,
) -> dict:
    """Write `df` bucket-by-bucket with commit manifests; resumable.

    `df` is computed once per call, for the pending buckets only. `run_spec`
    names the lineage and must be non-empty. Returns a summary dict: buckets
    written/skipped, rows, rows_per_sec. `_fail_after` is a test hook that
    aborts after that many bucket commits.
    """
    mdir = os.path.join(_local_dir(path), "_manifest")
    if not run_spec:
        raise ValueError(
            "checkpointed_write needs a non-empty run_spec: it is the lineage "
            "a resume must match, and an empty one would let two different "
            "jobs share it"
        )
    os.makedirs(mdir, exist_ok=True)
    done = committed_buckets(path)
    stale = {b: m["run_spec"] for b, m in done.items() if m.get("run_spec") != run_spec}
    if stale:
        raise ValueError(
            f"checkpoint at {path} holds buckets from a different run_spec "
            f"({sorted(set(stale.values()))} != {run_spec!r}); refusing to mix "
            "lineages — use a fresh path or the original run_spec"
        )
    # another split of the keyspace would duplicate or drop rows on resume
    for field, want in (("n_buckets", n_buckets), ("key_col", key_col)):
        seen = {m.get(field) for m in done.values()} - {want}
        if seen:
            raise ValueError(
                f"checkpoint at {path} holds buckets written with {field}="
                f"{sorted(seen, key=repr)} != {want!r}; refusing to mix "
                f"splits — use a fresh path or the original {field}"
            )
    pending = [b for b in range(n_buckets) if b not in done]
    written = 0
    rows_total = 0
    t_start = time.perf_counter()
    if pending:
        bdf = df.withColumn("__bucket", bucket_expr(key_col, n_buckets))
        if done:
            bdf = bdf.filter(F.col("__bucket").isin(pending))
        cached = len(pending) > 1
        if cached:
            bdf = bdf.persist()
        try:
            for b in pending:
                if _fail_after is not None and written >= _fail_after:
                    raise RuntimeError(f"injected failure after {written} buckets")
                t0 = time.perf_counter()
                obs = Observation()
                (bdf.filter(F.col("__bucket") == b).drop("__bucket")
                 .observe(obs, F.count(F.lit(1)).alias("rows"))
                 .write.mode("overwrite").parquet(os.path.join(path, f"bucket={b}")))
                rows = obs.get["rows"]
                wall_ms = (time.perf_counter() - t0) * 1000
                manifest = {
                    "bucket": b,
                    "rows": rows,
                    "wall_ms": round(wall_ms, 1),
                    "rows_per_sec": round(rows / max(wall_ms / 1000, 1e-9), 1),
                    "lineage_id": _lineage_id(run_spec, b),
                    "run_spec": run_spec,
                    "n_buckets": n_buckets,
                    "key_col": key_col,
                    "committed_at": time.time(),
                }
                tmp = os.path.join(mdir, f".{b}.json.tmp")
                with open(tmp, "w") as fh:
                    json.dump(manifest, fh)
                os.replace(tmp, os.path.join(mdir, f"{b}.json"))
                rows_total += rows
                written += 1
        finally:
            if cached:
                bdf.unpersist()
    wall = time.perf_counter() - t_start
    return {
        "path": path,
        "n_buckets": n_buckets,
        "written": written,
        "skipped": n_buckets - len(pending),
        "rows_written": rows_total,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows_total / max(wall, 1e-9), 1),
    }


def read_checkpointed(spark: SparkSession, path: str) -> DataFrame:
    """Read back only the committed buckets."""
    done = sorted(committed_buckets(path))
    paths = [os.path.join(path, f"bucket={b}") for b in done]
    if not paths:
        raise FileNotFoundError(f"no committed buckets under {path}")
    return spark.read.parquet(*paths)
