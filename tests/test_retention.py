"""Retention/TTL sweep: policy semantics, plan actions, and the
end-to-end apply over the bucketed pipeline layout (north-rule
retention leg; reference analogue seed_influx.jl:152-177)."""

import os

import pytest
from pyspark.sql import functions as F

from tsc_spark.operators.retention import (
    DEFAULT_RETENTION_POLICY,
    apply_retention,
    retention_plan,
    retention_sweep,
    with_expiry_flags,
)
from tsc_spark.operators.rollup import tiered_rollups
from tsc_spark.plans.pipeline import ingest, read_tier, run_pipeline


def _mini_rollup(spark):
    """Two docs, tier 1; doc A has 10 windows, doc B has 3."""
    rows = []
    for d, n in (("a", 10), ("b", 3)):
        for w in range(n):
            rows.append((d, 1, w, 8, 0, 5, 20))
    return spark.createDataFrame(
        rows,
        "doc_id string, tier int, window_idx long, agg_count long, "
        "agg_min int, agg_max int, agg_sum long",
    )


class TestSweepSemantics:
    def test_keep_last_k_per_doc(self, spark):
        out = retention_sweep(_mini_rollup(spark), {1: 4}).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r.window_idx)
        assert sorted(by_doc["a"]) == [6, 7, 8, 9]
        # shorter than the horizon → fully retained
        assert sorted(by_doc["b"]) == [0, 1, 2]

    def test_unpolicied_tier_retained_forever(self, spark):
        df = _mini_rollup(spark).withColumn("tier", F.lit(9))
        assert retention_sweep(df, {1: 2}).count() == df.count()

    def test_expiry_flags_match_sweep(self, spark):
        df = _mini_rollup(spark)
        flagged = with_expiry_flags(df, {1: 4})
        assert flagged.filter(~F.col("expired")).count() == retention_sweep(df, {1: 4}).count()
        assert flagged.count() == df.count()


class TestPlan:
    def test_actions_partition_the_segments(self, spark):
        # doc a: 10 windows, keep last 4 → expired 0..5; segments of 4:
        #   seg0 (w0-3)  all expired          → drop
        #   seg1 (w4-7)  w4,w5 expired        → rewrite
        #   seg2 (w8-9)  none expired         → keep
        plan = retention_plan(_mini_rollup(spark), {1: 4}, segment_size=4)
        acts = {(r.doc_id, r.segment): r.action for r in plan.collect()}
        assert acts[("a", 0)] == "drop"
        assert acts[("a", 1)] == "rewrite"
        assert acts[("a", 2)] == "keep"
        assert acts[("b", 0)] == "keep"

    def test_plan_counts_are_exact(self, spark):
        plan = retention_plan(_mini_rollup(spark), {1: 4}, segment_size=4)
        r = {(x.doc_id, x.segment): x for x in plan.collect()}
        assert (r[("a", 1)].n_windows, r[("a", 1)].n_expired) == (4, 2)


class TestApplyRetention:
    def test_end_to_end_over_bucketed_layout(self, spark, tokens_df, tmp_path):
        base = str(tmp_path / "ret")
        ingest(spark, tokens_df, base, n_buckets=2)
        run_pipeline(spark, base, with_timeline=False, with_encoded=False)

        before = {t: read_tier(spark, base, t).count() for t in (0, 1, 2)}
        records = apply_retention(spark, base, DEFAULT_RETENTION_POLICY)
        assert len(records) == 2
        after = {t: read_tier(spark, base, t).count() for t in (0, 1, 2)}

        # expected survivors: recompute the sweep from scratch per tier
        for tier in (0, 1, 2):
            t_all = tiered_rollups(tokens_df, with_gapfill=True).filter(F.col("tier") == tier)
            expected = retention_sweep(t_all, DEFAULT_RETENTION_POLICY).count()
            assert after[tier] == expected
            assert after[tier] <= before[tier]

        # manifests carry the retention record
        import json

        with open(os.path.join(base, "_checkpoints", "bucket=00000.json")) as f:
            m = json.load(f)
        assert m["retention"][0]["tiers"]["0"]["rows_after"] <= m["retention"][0]["tiers"]["0"]["rows_before"]

    def test_sweep_is_idempotent(self, spark, tokens_df, tmp_path):
        base = str(tmp_path / "ret2")
        ingest(spark, tokens_df, base, n_buckets=2)
        run_pipeline(spark, base, with_timeline=False, with_encoded=False)
        apply_retention(spark, base)
        first = {t: sorted(map(tuple, read_tier(spark, base, t).collect())) for t in (0, 1)}
        apply_retention(spark, base)
        second = {t: sorted(map(tuple, read_tier(spark, base, t).collect())) for t in (0, 1)}
        assert first == second


class TestStreamingRetention:
    def test_stream_sweep_equals_batch_sweep(self, spark, tokens_df, tmp_path):
        """Two ingest waves through the streaming retention path end in
        exactly the batch sweep of the full corpus (docs are disjoint
        across waves, so per-doc keep-last is wave-independent)."""
        from tsc_spark.streaming.rollup_stream import run_rollup_stream_with_retention

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        half = tokens_df.limit(20)
        rest = tokens_df.subtract(half)

        half.write.mode("append").parquet(src)
        run_rollup_stream_with_retention(spark, src, out, ckpt, tier=1, policy={1: 3})
        rest.write.mode("append").parquet(src)
        run_rollup_stream_with_retention(spark, src, out, ckpt, tier=1, policy={1: 3})

        got = sorted(
            (r.doc_id, r.window_idx, r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in spark.read.parquet(out).collect()
        )
        expected = sorted(
            (r.doc_id, r.window_idx, r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in retention_sweep(
                tiered_rollups(tokens_df, with_gapfill=False).filter(F.col("tier") == 1),
                {1: 3},
            ).collect()
        )
        assert got == expected
        assert len(got) > 0


def test_swap_recovery_restores_interrupted_swap(tmp_path):
    """A crash between swap_in_dir's two renames leaves the data in the
    .swap_old backup; recovery restores it instead of losing history or
    wedging on the stale backup."""
    import os

    from tsc_spark.operators.retention import recover_swapped_dir, swap_in_dir

    path = str(tmp_path / "sink")
    # simulate the crash window: path missing, backup holds the data
    os.makedirs(path + ".swap_old")
    open(os.path.join(path + ".swap_old", "part-0"), "w").write("history")
    recover_swapped_dir(path)
    assert os.path.isdir(path)
    assert open(os.path.join(path, "part-0")).read() == "history"
    assert not os.path.isdir(path + ".swap_old")

    # a normal swap with a stale backup lying around still succeeds
    os.makedirs(path + ".swap_old")
    tmp = str(tmp_path / "new")
    os.makedirs(tmp)
    open(os.path.join(tmp, "part-1"), "w").write("swept")
    swap_in_dir(path, tmp)
    assert open(os.path.join(path, "part-1")).read() == "swept"
    assert not os.path.isdir(path + ".swap_old")
