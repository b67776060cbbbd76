"""Resumable ingest → tier-0/1/2 pipeline with per-partition lineage.

The unit of work and of checkpointing is a **doc-hash bucket**:
``bucket = pmod(xxhash64(doc_id), n_buckets)``.  Ingest writes the corpus
once, hive-partitioned by bucket; every later stage reads a single
bucket directory (partition pruning — no re-scan of the other 100 TB /
n_buckets).  After a bucket's outputs are committed, a manifest JSON
records its lineage (doc_id range, doc/point counts, per-tier window
watermarks) and per-bucket metrics; a resumed run skips every bucket
with a manifest — the file-level equivalent of
``source LEFT ANTI JOIN done_partitions`` (SURVEY §2.3).

At cluster scale, buckets map to independent jobs that can be retried /
scheduled separately; n_buckets is chosen so one bucket ≈ a few hundred
GB.  In the sandbox the same code runs with small buckets.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_MERGE_THRESHOLD_RATIO, TIER_STRIDES
from ..functions.codec_udfs import encode_tokens_table
from ..operators.clustering import cluster_timeline
from ..operators.rollup import tiered_rollups

__all__ = ["ingest", "run_pipeline", "read_tier", "pipeline_metrics"]


def _manifest_dir(base_dir: str) -> str:
    return os.path.join(base_dir, "_checkpoints")


def _manifest_path(base_dir: str, bucket: int) -> str:
    return os.path.join(_manifest_dir(base_dir), f"bucket={bucket:05d}.json")


def ingest(
    spark: SparkSession,
    tokens_df: DataFrame,
    base_dir: str,
    n_buckets: int = 8,
) -> str:
    """One-pass bucketed ingest: corpus hive-partitioned by doc-hash.

    This is the only full scan of the raw corpus; all later stages are
    partition-pruned per bucket."""
    out = os.path.join(base_dir, "tokens_bucketed")
    # repartition by (bucket, doc_id) with >= cores partitions: keeps the
    # single full-corpus scan writing in parallel (repartition("bucket")
    # alone would cap write tasks at n_buckets — one task serializing a
    # whole bucket at the target bucket size of hundreds of GB) while
    # partitionBy still routes rows to their bucket directory
    write_parallelism = max(n_buckets, spark.sparkContext.defaultParallelism)
    (
        tokens_df.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
        )
        .repartition(write_parallelism, "bucket", "doc_id")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(out)
    )
    meta = {"n_buckets": n_buckets, "format": "parquet", "version": 1}
    os.makedirs(base_dir, exist_ok=True)
    with open(os.path.join(base_dir, "_ingest.json"), "w") as f:
        json.dump(meta, f)
    return out


def _process_bucket(
    spark: SparkSession,
    base_dir: str,
    bucket: int,
    merge_threshold_ratio: float,
    with_timeline: bool,
    with_encoded: bool,
) -> dict:
    t0 = time.time()
    outputs = ["rollup"] + (["timeline"] if with_timeline else []) + (
        ["encoded"] if with_encoded else []
    )
    bucket_dir = os.path.join(base_dir, "tokens_bucketed", f"bucket={bucket}")
    if not os.path.isdir(bucket_dir):
        # hash-empty bucket: partitionBy only creates directories for
        # buckets that received docs — commit an empty manifest so the
        # run completes and resume doesn't retry forever
        return {
            "bucket": bucket,
            "docs": 0,
            "points": 0,
            "doc_id_range": [None, None],
            "watermarks": {f"tier{t}_max_window_idx": -1 for t in (0, 1, 2)},
            "merge_threshold_ratio": merge_threshold_ratio,
            "outputs": outputs,
            "wall_seconds": 0.0,
            "points_per_sec": None,
            "completed_at_epoch": time.time(),
        }
    df = spark.read.parquet(bucket_dir)

    stats = df.agg(
        F.count("*").alias("docs"),
        F.sum("n_tok").alias("points"),
        F.min("doc_id").alias("doc_min"),
        F.max("doc_id").alias("doc_max"),
        F.max("n_tok").alias("max_n_tok"),
    ).collect()[0]

    # tiers are dense per doc (_gapfill_dense: windows 0..ceil(n_tok/s)-1),
    # so the per-tier watermark derives from max(n_tok) — no re-read of
    # the just-written parquet
    max_n_tok = int(stats["max_n_tok"] or 0)
    watermarks: dict[str, int] = {}

    # shuffle-free rollup, one write per tier: the layout stays
    # rollup/tier=t/bucket=b with the tier column inside every file
    # (apply_retention and read_tier rely on it)
    for tier, stride in TIER_STRIDES.items():
        path = os.path.join(base_dir, "rollup", f"tier={tier}", f"bucket={bucket}")
        tiered_rollups(df, tiers=(tier,)).write.mode("overwrite").parquet(path)
        wm = -(-max_n_tok // stride) - 1 if max_n_tok > 0 else -1
        watermarks[f"tier{tier}_max_window_idx"] = wm

    if with_timeline:
        tl = cluster_timeline(df, merge_threshold_ratio)
        tl.write.mode("overwrite").parquet(
            os.path.join(base_dir, "timeline", f"bucket={bucket}")
        )
    if with_encoded:
        encode_tokens_table(df).write.mode("overwrite").parquet(
            os.path.join(base_dir, "encoded", f"bucket={bucket}")
        )

    elapsed = time.time() - t0
    manifest = {
        "bucket": bucket,
        "docs": int(stats["docs"]),
        "points": int(stats["points"] or 0),
        "doc_id_range": [stats["doc_min"], stats["doc_max"]],
        "watermarks": watermarks,
        "merge_threshold_ratio": merge_threshold_ratio,
        "outputs": outputs,
        "wall_seconds": round(elapsed, 3),
        "points_per_sec": round((stats["points"] or 0) / elapsed, 1) if elapsed > 0 else None,
        "completed_at_epoch": time.time(),
    }
    return manifest


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    resume: bool = True,
    with_timeline: bool = True,
    with_encoded: bool = True,
    buckets: list[int] | None = None,
) -> list[dict]:
    """Process every (remaining) bucket; returns the manifests written.

    ``resume=True`` skips buckets whose checkpoint manifest exists, so a
    killed run restarts without duplicate work."""
    with open(os.path.join(base_dir, "_ingest.json")) as f:
        n_buckets = json.load(f)["n_buckets"]
    os.makedirs(_manifest_dir(base_dir), exist_ok=True)

    requested = {"rollup"} | ({"timeline"} if with_timeline else set()) | (
        {"encoded"} if with_encoded else set()
    )
    todo = buckets if buckets is not None else range(n_buckets)
    written = []
    for bucket in todo:
        mpath = _manifest_path(base_dir, bucket)
        if resume and os.path.exists(mpath):
            # skip only when the earlier run produced every output this
            # run asks for (a with_timeline=False run's manifest must not
            # suppress the timeline a later with_timeline=True run wants);
            # legacy manifests without the field recorded all outputs
            with open(mpath) as f:
                done = set(json.load(f).get("outputs",
                                            ["rollup", "timeline", "encoded"]))
            if requested <= done:
                continue
        else:
            done = set()
        manifest = _process_bucket(
            spark, base_dir, bucket, merge_threshold_ratio, with_timeline, with_encoded
        )
        # outputs produced by an earlier run over the same bucket data
        # remain valid on disk — record the union
        manifest["outputs"] = sorted(set(manifest["outputs"]) | done)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)  # atomic commit: manifest == bucket done
        written.append(manifest)
    return written


def read_tier(spark: SparkSession, base_dir: str, tier: int) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, "rollup", f"tier={tier}"))


def pipeline_metrics(base_dir: str) -> list[dict]:
    """All per-bucket manifests (lineage + metrics), bucket-ordered."""
    mdir = _manifest_dir(base_dir)
    out = []
    if not os.path.isdir(mdir):
        return out
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out
