"""Per-partition checkpointing with lineage IDs and throughput metrics.

North-rule requirement (BASELINE.json): "resumable from per-partition
checkpoints carrying lineage IDs and throughput metrics". The reference has no
counterpart (its closest analog is the memory-bounded batch scheduler,
/root/reference/src/nyx/phase2_2d.cpp:501-633, which frees and re-scans ROI
batches); this is the distributed re-design:

* the output keyspace is split into N deterministic buckets
  (pmod(xxhash64(key), N));
* each bucket is computed and written as its own Spark job to
  `<path>/bucket=<i>/`, then committed by writing a small manifest JSON to
  `<path>/_manifest/<i>.json` with rows, wall ms, the bucket count, the key
  column and a lineage ID = sha256(run_spec | bucket);
* a re-run with the same path skips every committed bucket — killing the job
  mid-run loses at most the in-flight bucket. A re-run with another
  run_spec, bucket count or key column raises ValueError instead of mixing
  two lineages or two splits.

At 10^12-sequence scale the bucket column is the Iceberg partition spec
(bucket(doc_id)), so each bucket job prunes its input at the scan instead of
filtering; here (plain parquet) the filter is explicit but the commit protocol
is identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_SEED = 42


def bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col), F.lit(BUCKET_SEED)), F.lit(n_buckets))


def _lineage_id(run_spec: str, bucket: int) -> str:
    return hashlib.sha256(f"{run_spec}|{bucket}".encode()).hexdigest()[:16]


def committed_buckets(path: str) -> dict[int, dict]:
    mdir = os.path.join(path, "_manifest")
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

    Returns a summary dict: buckets written/skipped, rows, rows_per_sec.
    `_fail_after` is a test hook that aborts after that many bucket commits.
    """
    os.makedirs(os.path.join(path, "_manifest"), exist_ok=True)
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
    written = 0
    skipped = 0
    rows_total = 0
    t_start = time.perf_counter()
    bdf = df.withColumn("__bucket", bucket_expr(key_col, n_buckets))
    for b in range(n_buckets):
        if b in done:
            skipped += 1
            continue
        if _fail_after is not None and written >= _fail_after:
            raise RuntimeError(f"injected failure after {written} buckets")
        t0 = time.perf_counter()
        part = bdf.filter(F.col("__bucket") == b).drop("__bucket")
        bucket_path = os.path.join(path, f"bucket={b}")
        part.write.mode("overwrite").parquet(bucket_path)
        rows = part.sparkSession.read.parquet(bucket_path).count()
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
        tmp = os.path.join(path, "_manifest", f".{b}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(path, "_manifest", f"{b}.json"))
        rows_total += rows
        written += 1
    wall = time.perf_counter() - t_start
    return {
        "path": path,
        "n_buckets": n_buckets,
        "written": written,
        "skipped": skipped,
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
