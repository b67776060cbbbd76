#!/usr/bin/env python
"""Benchmark harness (driver contract + scaling-efficiency experiment).

Default mode (what the per-round driver runs):
  python bench.py
    * runs the headline north-rule pipeline — deterministic synthetic
      tokens corpus -> ingest -> tier-0/1/2 rollup + gap-fill — on
      local[$SPARK_GRAFT_CPUS], reporting rolled-up points/sec;
    * times each headline query from __spark_entry__.queries() at
      $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1);
    * prints ONE JSON line:
      {"metric": ..., "value": total_sec, "unit": "sec",
       "queries": {name: sec, ...}, "sf": ...,
       "rollup_points": N, "rollup_sec": s, "rollup_points_per_sec": r}

Scaling mode (the sandbox substitution for the north rule's N vs 4N
executor criterion — no real cluster here):
  python bench.py --scaling
    re-execs the pipeline-only bench in two subprocess JVMs at local[8]
    and local[32] over the *identical* deterministic input
    (synth_tokens_distributed is parallelism-invariant), and reports
    throughput at both plus efficiency = (pps32/pps8)/(32/8).

Env knobs:
  SPARK_GRAFT_SF_DIR     query-bench data dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       local[] core count      (default 32)
  TSC_BENCH_DOCS         synthetic corpus docs   (default 60000, ~3.3M points)
  TSC_BENCH_QUERIES      comma list to restrict query bench
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
# large enough that JVM/job fixed overhead is noise and the headline
# points/sec is steady-state (~55M points), per round-1 verdict
BENCH_DOCS_DEFAULT = 1_000_000
CLUSTER_BENCH_DOCS_DEFAULT = 20_000

# headline queries benched per round (a representative slice of
# __spark_entry__.queries(); full correctness runs via check_entry.py)
BENCH_QUERY_NAMES = [
    "series_stats",
    "rollup_tier1",
    "rollup_tier2",
    "rollup_gapfill",
    "topk_longest",
    "source_counts",
    "token_stats",
    "quality_scores",
    "fingerprint",
    "exact_dups",
    "minhash_signatures",
    "simhash",
    "cosine_topk",
    "sessionize",
    "collapse_max",
    "pricing_summary",
    "top_customers",
    "window_matches",
    "octave_matches",
    "split_phrases",
    "rollup_locf",
    "contextual_width",
    "adjacent_roughness",
    "media_stats",
    "suppliers_by_region",
    "events_hourly",
    "codec_roundtrip",
    "cluster_timeline",
    "rollup_tier1_streamed",
    "events_hourly_streamed",
    "query_matches",
    "lsh_dedup_pairs",
    "ann_topk_ivf",
    "retention_sweep",
    "chord_roughness",
    "normalize_combine",
    "near_dup_embeddings",
    "generate_poly",
    "asof_join",
    "range_join",
    "dedup_groups",
    "repetition_stats",
    "kmv_distinct",
]


def _force(df) -> int:
    """Fully execute a DataFrame without driver materialization."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def run_pipeline_bench(
    spark, n_docs: int, repeats: int = 2, corpus_dir: str | None = None
) -> dict:
    """North-rule headline: ingest -> tier-0/1/2 rollup+gapfill points/sec.

    Input generation is excluded from the timed region (the corpus is
    written to parquet first = the at-rest Iceberg-style table); the
    timed region is scan -> explode -> 3-tier rollup -> gap-fill ->
    sink, i.e. everything the north rule calls 'ingest -> tier-2'.

    ``corpus_dir`` persists/reuses the generated at-rest table across
    invocations (a present ``_SUCCESS`` marker skips regeneration, and
    the reported doc count is read from the table, not the flag) — big
    corpora are generated once and re-benched many times.
    """
    from pyspark.sql import functions as F

    from tsc_spark.operators.rollup import tiered_rollups
    from tsc_spark.sources.synth import synth_tokens_distributed

    workdir = None if corpus_dir else tempfile.mkdtemp(prefix="tsc_bench_")
    try:
        corpus = corpus_dir or os.path.join(workdir, "tokens")
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            # 4 waves of tasks per core: fine-grained scheduling absorbs
            # stragglers (a single-wave scan leaves cores idle at the tail).
            # Additionally cap ~2M docs per generation task: at 512M+ docs
            # a 4-wave split makes individual tasks run for 20+ minutes,
            # and in local mode (maxFailures=1, no speculation) one task
            # lost to a rare worker-pipe stall kills the whole job —
            # shorter tasks bound the exposure per task and the straggler
            # tail, the same reason real clusters bound task size
            parts = max(
                4 * spark.sparkContext.defaultParallelism,
                (n_docs + 1_999_999) // 2_000_000,
            )
            synth_tokens_distributed(spark, n_docs, partitions=parts).write.mode(
                "overwrite"
            ).parquet(corpus)

        toks = spark.read.parquet(corpus)
        if corpus_dir:
            found_docs = toks.count()
            if found_docs != n_docs:
                # a leftover corpus of a different size would otherwise be
                # benched silently under the requested --docs label
                print(
                    f"# WARNING: --corpus-dir holds {found_docs} docs but "
                    f"--docs requested {n_docs}; benching the at-rest "
                    "corpus (delete the dir to regenerate)",
                    file=sys.stderr,
                )
            n_docs = found_docs
        n_points = toks.agg(F.sum("n_tok")).collect()[0][0]

        # Warm the per-process machinery UNTIMED (Python-worker spawn on
        # every core, Arrow serde, codegen, noop sink) on a tiny slice:
        # a cold repeats=1 run — the --scaling subprocesses — otherwise
        # pays ~seconds of fixed startup inside the timed region, which
        # depresses the fast parallelism level far more than the slow
        # one and corrupts the efficiency ratio (measured: local[8]
        # 4.6M pts/s cold vs ~11M warm on identical code).
        try:
            _warmup(spark)
            _force(tiered_rollups(toks.limit(2048), with_gapfill=True))
        except Exception as e:
            print(f"# pipeline warmup failed: {type(e).__name__}: {e}",
                  file=sys.stderr)

        # best-of-N timed region: external contention on a shared host
        # only ever depresses throughput, so min elapsed estimates the
        # uncontended rate (cross-round comparability, round-3 verdict)
        elapsed = None
        for _ in range(max(repeats, 1)):
            t0 = time.perf_counter()
            _force(tiered_rollups(toks, with_gapfill=True))
            el = time.perf_counter() - t0
            elapsed = el if elapsed is None or el < elapsed else elapsed
        return {
            "rollup_docs": n_docs,
            "rollup_points": int(n_points),
            "rollup_sec": round(elapsed, 3),
            "rollup_points_per_sec": round(n_points / elapsed, 1),
            "rollup_repeats": max(repeats, 1),
        }
    finally:
        if workdir:
            shutil.rmtree(workdir, ignore_errors=True)


def run_cluster_bench(spark, n_docs: int) -> dict:
    """Kernel-bound scaling datapoint: per-doc subsequence clustering.

    Unlike the rollup path (memory-bandwidth-bound np.reduceat), the
    clustering kernel is Python-CPU-bound, so its scaling curve is the
    one that evidences executor-count scaling without the shared-memory
    bandwidth ceiling (round-1 verdict)."""
    from pyspark.sql import functions as F

    from tsc_spark.operators.clustering import cluster_timeline
    from tsc_spark.sources.synth import synth_tokens_distributed

    parts = 4 * spark.sparkContext.defaultParallelism
    workdir = tempfile.mkdtemp(prefix="tsc_cbench_")
    try:
        corpus = os.path.join(workdir, "tokens")
        synth_tokens_distributed(spark, n_docs, partitions=parts).write.mode(
            "overwrite"
        ).parquet(corpus)
        toks = spark.read.parquet(corpus)
        n_points = toks.agg(F.sum("n_tok")).collect()[0][0]
        # same untimed warm-up rationale as run_pipeline_bench: spawn the
        # Python workers / codegen outside the single timed region
        try:
            _warmup(spark)
            _force(cluster_timeline(toks.limit(64)))
        except Exception as e:
            print(f"# cluster warmup failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
        t0 = time.perf_counter()
        _force(cluster_timeline(toks))
        elapsed = time.perf_counter() - t0
        return {
            "cluster_docs": n_docs,
            "cluster_points": int(n_points),
            "cluster_sec": round(elapsed, 3),
            "cluster_points_per_sec": round(n_points / elapsed, 1),
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_skew_bench(
    spark, n_docs: int = 20_000, heavy_docs: int = 16, heavy_len: int = 8_192
) -> dict:
    """Adversarial-skew datapoint: the clustering kernel over a corpus
    where a handful of 10⁴-token heavy hitters dominate total cost
    (kernel cost ~quadratic in length), measured under BOTH partitioning
    strategies on the identical at-rest input:

      * ``balanced``   — balance_for_kernel: heavy docs isolated
        round-robin, one per partition (the engine's default path)
      * ``hash_only``  — plain hash(doc_id) co-location, the naive
        layout where heavy keys collide and build a straggler tail

    Per-partition kernel seconds are measured INSIDE the mapInPandas
    stage, so the straggler tail (max vs median partition) is reported
    directly, not inferred from wall clock."""
    from pyspark.sql import functions as F

    from tsc_spark.operators.clustering import balance_for_kernel
    from tsc_spark.sources.synth import synth_tokens_skewed

    parallelism = spark.sparkContext.defaultParallelism
    workdir = tempfile.mkdtemp(prefix="tsc_skew_")
    try:
        corpus = os.path.join(workdir, "tokens")
        synth_tokens_skewed(
            spark, n_docs, heavy_docs=heavy_docs, heavy_len=heavy_len
        ).write.mode("overwrite").parquet(corpus)
        toks = spark.read.parquet(corpus)

        def kernel_partition_secs(df):
            """Run the real clustering kernel; one timing row per task."""

            def run(batches):
                import pandas as pd

                from tsc_spark.kernel.api import analyse_tokens

                t0 = time.perf_counter()
                n = 0
                for pdf in batches:
                    for toks_arr in pdf["tokens"]:
                        mgr = analyse_tokens(toks_arr, 0.3, 1.0)
                        mgr.timeline()
                        n += 1
                yield pd.DataFrame(
                    {"secs": [time.perf_counter() - t0], "docs": [n]}
                )

            return df.select("tokens").mapInPandas(run, "secs double, docs long")

        try:
            _warmup(spark)
        except Exception as e:
            print(f"# skew warmup failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
        out: dict = {
            "skew_docs": n_docs,
            "skew_heavy_docs": heavy_docs,
            "skew_heavy_len": heavy_len,
        }
        for label, part in (
            ("balanced", lambda d: balance_for_kernel(d, parallelism)),
            ("hash_only", lambda d: d.repartition(parallelism, "doc_id")),
        ):
            t0 = time.perf_counter()
            rows = kernel_partition_secs(part(toks)).collect()
            wall = time.perf_counter() - t0
            secs = sorted(r["secs"] for r in rows)
            mid = secs[len(secs) // 2]
            out[f"skew_{label}_wall_sec"] = round(wall, 3)
            out[f"skew_{label}_max_task_sec"] = round(secs[-1], 3)
            out[f"skew_{label}_median_task_sec"] = round(mid, 3)
            out[f"skew_{label}_straggler_ratio"] = round(
                secs[-1] / mid, 2
            ) if mid > 0 else None
        out["skew_balanced_speedup"] = round(
            out["skew_hash_only_wall_sec"] / out["skew_balanced_wall_sec"], 2
        )
        return out
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_ann_recall(spark, sf_dir: str) -> dict:
    """Measured recall@10 of the approximate similarity paths against
    the exact brute-force top-k on the same embeddings — emitted next to
    their times so the recall-vs-speed trade stays monitored as corpora
    grow (the r3 near-dup fix traded recall for bounded candidates).

    Also emits the measured candidate scan fraction each method touched
    (probed LSH buckets / probed IVF lists over the full corpus): on
    near-isotropic synthetic embeddings recall is bounded by scan
    fraction, so recall alone under-reads the methods — the pair
    (recall, scan_frac) is the actual quality figure (lift over a random
    scan of the same fraction)."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from tsc_spark.operators.similarity import (
        ann_topk_lsh,
        hyperplane_buckets,
        ivf_assign,
        ivf_fit_centroids,
        ivf_probe_lists,
        lsh_probe_set,
    )

    qs = entry_mod.queries()

    def top_ids(name):
        return {r["vec_id"] for r in qs[name](spark, sf_dir).collect()}

    try:
        exact = top_ids("cosine_topk")
        out = {
            "recall_at_10": {
                name: round(len(top_ids(name) & exact) / max(len(exact), 1), 2)
                for name in ("ann_topk_lsh", "ann_topk_ivf")
            }
        }
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qv = [
            float(v)
            for v in emb.filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0][0]
        ]
        dim = len(qv)
        base = emb.filter(
            (F.col("vec_id") != 0) & F.col("embedding").isNotNull()
        ).cache()
        try:
            total = base.count()
            bucketed = hyperplane_buckets(base, dim, 8, seed=7)
            lsh_cand = bucketed.filter(
                F.col("bucket").isin(lsh_probe_set(qv, dim))
            ).count()
            # the probe-radius knob, measured: radius 3 widens the scan
            # (93/256 buckets vs 37/256) and buys recall — emitting both
            # radii shows the recall/scan trade is a configuration, not
            # a ceiling (the DRIVER query stays at the oracled radius 2)
            r3_ids = {
                r["vec_id"]
                for r in ann_topk_lsh(base, qv, dim, probe_radius=3).collect()
            }
            lsh_cand_r3 = bucketed.filter(
                F.col("bucket").isin(lsh_probe_set(qv, dim, probe_radius=3))
            ).count()
            out["recall_at_10"]["ann_topk_lsh_r3"] = round(
                len(r3_ids & exact) / max(len(exact), 1), 2
            )
            cents = ivf_fit_centroids(base, dim)
            ivf_cand = (
                ivf_assign(base, cents)
                .filter(F.col("ivf_list").isin(ivf_probe_lists(qv, cents)))
                .count()
            )
            out["ann_scan_frac"] = {
                "ann_topk_lsh": round(lsh_cand / max(total, 1), 3),
                "ann_topk_lsh_r3": round(lsh_cand_r3 / max(total, 1), 3),
                "ann_topk_ivf": round(ivf_cand / max(total, 1), 3),
            }
        finally:
            base.unpersist()
        return out
    except Exception as e:
        print(f"# ann recall failed: {type(e).__name__}: {e}", file=sys.stderr)
        return {"recall_at_10": None}


# effective all-core rates measured by _warmup's calibration probe, in
# Mrows/s of sum(sqrt(id)); one entry per _warmup call (suite = pipeline
# warmup + query-bench warmup, so first ~ suite start, last ~ most recent)
_HOST_PROBE: list = []


def _warmup(spark) -> None:
    """Absorb JVM/codegen/Arrow-worker startup outside the timed region —
    the reference does the same at startup (STARTUP_WARMUP_*,
    /root/reference/config/warmup_actions.json): warm one codegen query,
    one pandas_udf and one mapInPandas so the first timed query measures
    the query, not the runtime."""
    from pyspark.sql import functions as F

    df = spark.range(256).withColumn("v", (F.col("id") % 7).cast("double"))
    df.groupBy((F.col("id") % 4).alias("g")).agg(F.sum("v")).count()

    _pw = F.pandas_udf(lambda s: s * 2.0, "double")
    df.select(_pw("v")).count()
    df.mapInPandas(lambda it: it, "id long, v double").count()

    # Ramp + calibrate the host (untimed).  This sandbox's host runs
    # all-core work at a clock that swings >5x between windows (burst
    # scheduling: measured 50M rows/core of sum(sqrt(id)) at 10.8 s,
    # then 200M rows/core — 4x the work — at 4.1 s immediately after;
    # identical rollup commands minutes apart spanned 0.98M..8.2M
    # pts/s).  The ramp moves the governor to its sustained operating
    # point; the fixed probe that follows then MEASURES the window's
    # effective all-core rate, which the bench JSON reports as
    # host_probe_mrows_per_sec so cross-window throughput numbers can
    # be normalized instead of guessed at (BASELINE.md records the
    # clean-window reference rate alongside every headline figure).
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 60_000_000, numPartitions=n).select(
        F.sum(F.sqrt(F.col("id").cast("double") + 1.0))
    ).collect()
    t0 = time.perf_counter()
    spark.range(n * 40_000_000, numPartitions=n).select(
        F.sum(F.sqrt(F.col("id").cast("double") + 1.0))
    ).collect()
    dt = time.perf_counter() - t0
    _HOST_PROBE.append(round(n * 40_000_000 / dt / 1e6, 1))


def run_query_bench(
    spark, sf_dir: str, names: list[str], repeats: int = 2
) -> dict[str, float]:
    """Per-query best-of-``repeats`` wall time.

    The host's throughput swings ~2x between windows under external load
    (round-3 measurement story); contention only ever ADDS time, so the
    per-query minimum over back-to-back runs is the comparable
    cross-round statistic (same rationale as --scale-repeats)."""
    import __spark_entry__ as entry_mod

    try:
        _warmup(spark)
    except Exception as e:  # warmup is best-effort; never kill the bench
        print(f"# bench warmup failed: {type(e).__name__}: {e}", file=sys.stderr)
    queries = entry_mod.queries()
    out: dict[str, float] = {}
    for name in names:
        fn = queries.get(name)
        if fn is None:
            continue
        best = None
        try:
            for _ in range(max(repeats, 1)):
                t0 = time.perf_counter()
                _force(fn(spark, sf_dir))
                el = time.perf_counter() - t0
                best = el if best is None or el < best else best
            out[name] = round(best, 3)
        except Exception as e:  # keep the bench alive; flag the failure
            out[name] = -1.0
            print(f"# bench query {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
    return out


def _spark(cpus: str):
    from tsc_spark.session import get_spark

    return get_spark("bench", master=f"local[{cpus}]",
                     shuffle_partitions=max(int(cpus), 8))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run pipeline at local[N] and local[4N]; report efficiency")
    ap.add_argument("--scale-base", type=int, default=8,
                    help="N for the N vs 4N comparison (default 8)")
    ap.add_argument("--kernel", choices=["rollup", "cluster"], default="rollup",
                    help="which job the scaling pair runs (rollup = "
                         "bandwidth-bound reduceat; cluster = CPU-bound "
                         "Python kernel)")
    ap.add_argument("--scale-repeats", type=int, default=2,
                    help="repeats per parallelism level in --scaling; the "
                         "best (max points/sec) is kept per level")
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--corpus-dir", default=None,
                    help="persist/reuse the generated at-rest corpus here "
                         "(_SUCCESS present = skip regeneration); pipeline "
                         "bench only")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--docs", type=int, default=None)
    ap.add_argument("--query-repeats", type=int,
                    default=int(os.environ.get("TSC_BENCH_REPEATS", "3")),
                    help="per-query (and pipeline) timing repeats; best "
                         "(min sec) kept — host-contention discipline "
                         "(2 repeats measured median 13%% cross-run dev "
                         "on sub-second queries; 3 tightens the tail)")
    args = ap.parse_args()
    if args.docs is None:
        args.docs = int(
            os.environ.get(
                "TSC_BENCH_DOCS",
                CLUSTER_BENCH_DOCS_DEFAULT if args.kernel == "cluster" else BENCH_DOCS_DEFAULT,
            )
        )

    if args.scaling:
        lo, hi = str(args.scale_base), str(args.scale_base * 4)
        key = f"{args.kernel}_points_per_sec"
        results = {}
        # best-of-N per level: on a shared host external contention only
        # ever depresses throughput, so max over repeats estimates the
        # uncontended rate for both levels symmetrically
        for cpus in (lo, hi):
            best = None
            for _ in range(max(args.scale_repeats, 1)):
                argv = [sys.executable, os.path.abspath(__file__),
                        "--pipeline-only", "--kernel", args.kernel,
                        "--cpus", cpus, "--docs", str(args.docs),
                        # the outer loop is already best-of---scale-repeats;
                        # inner repeats would silently multiply its cost
                        "--query-repeats", "1"]
                if args.corpus_dir and args.kernel == "rollup":
                    # generation is parallelism-invariant, so every level
                    # can share one at-rest corpus: the first subprocess
                    # writes it, the rest reuse (minutes saved at 32M docs)
                    argv += ["--corpus-dir", args.corpus_dir]
                proc = subprocess.run(
                    argv,
                    capture_output=True, text=True,
                    cwd=os.path.dirname(os.path.abspath(__file__)),
                )
                # surface subprocess warnings (e.g. a stale --corpus-dir
                # of a different size) instead of swallowing them with
                # the captured stderr
                for wline in proc.stderr.splitlines():
                    if wline.startswith("# WARNING"):
                        print(wline, file=sys.stderr)
                line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
                rec = json.loads(line)
                if best is None or rec[key] > best[key]:
                    best = rec
            results[cpus] = best
        pps_lo = results[lo][key]
        pps_hi = results[hi][key]
        eff = (pps_hi / pps_lo) / 4
        print(json.dumps({
            "metric": f"{args.kernel}_scaling_efficiency_local{lo}_to_local{hi}",
            "value": round(eff, 3),
            "unit": "ratio",
            "points_per_sec": {f"local{lo}": pps_lo, f"local{hi}": pps_hi},
            # per-level host calibration at the winning run (window
            # comparability check: a level measured in a throttled
            # window shows a lower probe rate); keys/shape mirror the
            # points_per_sec field, None = subprocess warmup failed
            "host_probe_mrows_per_sec": {
                f"local{c}": (
                    (results[c].get("host_probe_mrows_per_sec") or [None])[-1]
                )
                for c in (lo, hi)
            },
            f"{args.kernel}_points": results[hi][f"{args.kernel}_points"],
            # the ACTUAL benched corpus size as reported by the winning
            # subprocess — a stale --corpus-dir of a different size must
            # not be recorded under the requested --docs label
            "docs": results[hi].get(f"{args.kernel}_docs", args.docs),
            "repeats_per_level": max(args.scale_repeats, 1),
        }))
        return

    t_main = time.time()
    try:
        # load BEFORE the run is the real shared-machine noise indicator:
        # the suite itself saturates all cores, so end-load is self-inflicted
        load_start = round(os.getloadavg()[0], 1)
    except OSError:
        load_start = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"
    spark = _spark(args.cpus)
    try:
        if args.pipeline_only and args.kernel == "cluster":
            pipe = run_cluster_bench(spark, args.docs)
            print(json.dumps({"metric": "cluster_points_per_sec",
                              "value": pipe["cluster_points_per_sec"],
                              "unit": "points/sec",
                              "host_probe_mrows_per_sec": _HOST_PROBE[-1:],
                              **pipe}))
            return
        pipe = run_pipeline_bench(
            spark, args.docs, repeats=args.query_repeats,
            corpus_dir=args.corpus_dir,
        )
        if args.pipeline_only:
            print(json.dumps({"metric": "rollup_points_per_sec",
                              "value": pipe["rollup_points_per_sec"],
                              "unit": "points/sec",
                              "host_probe_mrows_per_sec": _HOST_PROBE[-1:],
                              **pipe}))
            return
        only = os.environ.get("TSC_BENCH_QUERIES")
        names = only.split(",") if only else BENCH_QUERY_NAMES
        queries = run_query_bench(spark, sf_dir, names, repeats=args.query_repeats)
        # standing adversarial-skew + ANN-recall figures (skippable for
        # focussed query runs via TSC_BENCH_QUERIES / TSC_BENCH_NO_SKEW)
        extras: dict = {}
        if not only and not os.environ.get("TSC_BENCH_NO_SKEW"):
            try:
                extras.update(run_skew_bench(
                    spark,
                    n_docs=int(os.environ.get("TSC_BENCH_SKEW_DOCS", "20000")),
                ))
            except Exception as e:
                print(f"# skew bench failed: {type(e).__name__}: {e}",
                      file=sys.stderr)
            extras.update(run_ann_recall(spark, sf_dir))
        total = round(sum(v for v in queries.values() if v > 0) + pipe["rollup_sec"], 3)
        try:
            load1 = round(os.getloadavg()[0], 1)
        except OSError:
            load1 = None
        from tsc_spark.config import processing_time_s

        print(json.dumps({
            "metric": "ingest_to_tier2_rollup_plus_query_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": queries,
            "sf": float(sf),
            # shared-machine noise indicator: clean-machine reference
            # numbers + repro commands live in BASELINE.md
            "load_avg_1m_at_start": load_start,
            "load_avg_1m_at_end": load1,
            # measured all-core effective rate at suite start / before
            # the query block (Mrows/s of sum(sqrt(id)); see _warmup) —
            # the direct divisor for cross-window normalization
            "host_probe_mrows_per_sec": _HOST_PROBE,
            "query_repeats": max(args.query_repeats, 1),
            # reference-compatible response stamp (config.jl:17)
            "processingTime": processing_time_s(t_main),
            **pipe,
            **extras,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
