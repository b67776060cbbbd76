"""Retention / TTL enforcement over the tiered rollup layout.

The north rule's third leg (rollup + downsample + **retention**).
Reference analogue: InfluxDB measurement reset / retention-policy drop
(/root/reference/scripts/seed_influx.jl:152-177 — the seeding script
drops and recreates measurements; the server relies on InfluxDB RP
expiry).  Here retention is an explicit, scalable engine operator:

* policy = per-tier ``keep_last`` horizon, in that tier's own windows,
  measured from each series' newest window (the engine's time axis is
  per-doc ``window_idx``; "keep the last K windows of every series" is
  the reference's recency-window semantics applied to storage);
* ``retention_sweep``    → surviving rows (the logical view);
* ``retention_plan``     → per-(tier, doc, segment) action:
  ``drop`` (every window expired — at scale a pure manifest delete,
  no data rewrite), ``keep`` (nothing expired — untouched), or
  ``rewrite`` (boundary segment, the only data actually rewritten);
* ``apply_retention``    → executes the plan over the bucketed pipeline
  layout (plans.pipeline) and records the sweep in each bucket manifest.

Scale design: expiry is decided from per-doc watermarks (one window-max
per doc — a narrow windowed agg, no corpus shuffle beyond the rollup's
own doc partitioning), and the plan summarises entire segments so the
executor only touches boundary segments.  With a date/bucket-partitioned
physical layout, ``drop`` segments translate to partition drops
(metadata-only), which is what keeps a 100 TB sweep cheap.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "DEFAULT_RETENTION_POLICY",
    "with_expiry_flags",
    "retention_sweep",
    "retention_plan",
    "apply_retention",
    "recover_swapped_dir",
    "swap_in_dir",
]


def _hidden_sibling(path: str, suffix: str) -> str:
    """``<parent>/.<name><suffix>``: Spark's partition discovery skips
    dot-prefixed names, so a backup or temp dir beside a partition dir
    (``bucket=<b>``) is never read as one more partition."""
    parent, name = os.path.split(os.path.normpath(path))
    return os.path.join(parent, f".{name}{suffix}")


def recover_swapped_dir(path: str) -> None:
    """Crash recovery for ``swap_in_dir``: if a previous swap died
    between its two renames, ``path`` is missing and the backup holds
    the data — restore it.  A stale backup alongside an intact ``path``
    means the swap completed; drop it."""
    old = _hidden_sibling(path, ".swap_old")
    if os.path.isdir(old):
        if not os.path.isdir(path):
            os.rename(old, path)  # the interrupted swap's data, restored
        else:
            shutil.rmtree(old)


def swap_in_dir(path: str, tmp: str) -> None:
    """Replace directory ``path`` with fully-written ``tmp`` via
    rename-to-backup + rename-in + drop-backup.

    Not truly atomic (POSIX has no two-directory exchange): a crash
    between the renames leaves ``path`` missing and the data in the
    backup — which ``recover_swapped_dir`` (called here on entry, and
    callable at startup) restores, so the failure mode is "sweep didn't
    happen", never data loss or a permanently wedged sink."""
    recover_swapped_dir(path)
    old = _hidden_sibling(path, ".swap_old")
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)

# keep raw windows briefly, rolled-up tiers progressively longer —
# the classic downsample-and-expire ladder (tier0 raw / tier1 8x / tier2 64x)
DEFAULT_RETENTION_POLICY: dict[int, int] = {0: 64, 1: 16, 2: 8}


def _keep_last_expr(policy: dict[int, int]) -> F.Column:
    expr = F.lit(None).cast("long")
    for tier, keep in sorted(policy.items(), reverse=True):
        expr = F.when(F.col("tier") == tier, F.lit(int(keep))).otherwise(expr)
    return expr


def with_expiry_flags(rollup_df: DataFrame, policy: dict[int, int]) -> DataFrame:
    """Attach ``expired`` per row: window older than the tier horizon
    counted back from the doc's newest window of that tier.

    Rows from tiers absent from the policy are retained forever."""
    w = Window.partitionBy("doc_id", "tier")
    keep = _keep_last_expr(policy)
    horizon = F.max("window_idx").over(w) - keep + 1
    return rollup_df.withColumn(
        "expired",
        F.when(keep.isNull(), F.lit(False)).otherwise(F.col("window_idx") < horizon),
    )


def retention_sweep(rollup_df: DataFrame, policy: dict[int, int] | None = None) -> DataFrame:
    """Surviving rollup rows under the policy (the post-TTL logical view)."""
    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    return with_expiry_flags(rollup_df, pol).filter(~F.col("expired")).drop("expired")


def retention_plan(
    rollup_df: DataFrame,
    policy: dict[int, int] | None = None,
    segment_size: int = 8,
) -> DataFrame:
    """Segment-level sweep plan: (tier, doc_id, segment) → action.

    ``segment`` models the physical file/partition grain
    (``window_idx // segment_size``).  Fully-expired segments are
    ``drop`` (manifest-only delete at scale), untouched segments are
    ``keep``, and only boundary segments are ``rewrite`` — the plan IS
    the cost model: bytes rewritten ∝ number of ``rewrite`` rows."""
    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    flagged = with_expiry_flags(rollup_df, pol)
    seg = F.floor(F.col("window_idx") / F.lit(int(segment_size))).cast("long")
    agg = (
        flagged.groupBy("tier", "doc_id", seg.alias("segment"))
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.col("expired").cast("long")).alias("n_expired"),
        )
    )
    action = (
        F.when(F.col("n_expired") == 0, F.lit("keep"))
        .when(F.col("n_expired") == F.col("n_windows"), F.lit("drop"))
        .otherwise(F.lit("rewrite"))
    )
    return agg.select(
        "tier", "doc_id", "segment", "n_windows", "n_expired", action.alias("action")
    )


def apply_retention(
    spark,
    base_dir: str,
    policy: dict[int, int] | None = None,
    buckets: list[int] | None = None,
) -> list[dict]:
    """Execute the sweep over the bucketed pipeline layout.

    Per bucket: read the rollup once (``tier`` is a partition column),
    keep survivors of every tier in one sweep, write them once
    partitioned by tier, swap the bucket directory in, and append a
    ``retention`` record (policy, rows before/after per policy tier) to
    the bucket manifest.  Tiers absent from the policy pass through
    unchanged.  A whole-bucket rewrite executing the same plan a cluster
    deployment would push down to partition drops."""
    import json

    from ..plans.pipeline import (  # layout owners
        _commit_manifest,
        _manifest_path,
        _n_buckets,
        _rollup_dir,
    )

    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    todo = buckets if buckets is not None else range(_n_buckets(base_dir))

    def tier_counts(df: DataFrame) -> dict[int, int]:
        return {r["tier"]: r["count"] for r in df.groupBy("tier").count().collect()}

    results = []
    for bucket in todo:
        mpath = _manifest_path(base_dir, bucket)
        if not os.path.exists(mpath):
            continue
        record = {"bucket": bucket, "policy": {str(k): v for k, v in pol.items()}, "tiers": {}}
        path = _rollup_dir(base_dir, bucket)
        recover_swapped_dir(path)  # an earlier sweep may have died mid-swap
        if os.path.isdir(path):
            df = spark.read.parquet(path)
            before = tier_counts(df)
            survivors = retention_sweep(df, pol).cache()
            after = tier_counts(survivors)
            tmp = _hidden_sibling(path, ".retention_tmp")
            survivors.write.partitionBy("tier").mode("overwrite").parquet(tmp)
            survivors.unpersist()
            # swap: readers see old or new, never a partial dir; crash
            # recovery via recover_swapped_dir (see swap_in_dir)
            swap_in_dir(path, tmp)
            record["tiers"] = {
                str(t): {"rows_before": before[t], "rows_after": after.get(t, 0)}
                for t in sorted(pol) if t in before
            }
        with open(mpath) as f:
            manifest = json.load(f)
        manifest.setdefault("retention", []).append(record)
        _commit_manifest(mpath, manifest)
        results.append(record)
    return results
