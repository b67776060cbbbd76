"""Tier rollups + gap-fill vs a straightforward numpy oracle
(FIXTURES.md §2.3), plus sparse-gap and LOCF semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsc_spark.config import TIER_STRIDES
from tsc_spark.operators.rollup import (
    explode_points,
    gapfill,
    gapfill_locf,
    rollup_points,
    tiered_rollups,
)


def _oracle_rollup(tokens, stride):
    """{window_idx: (count, min, max, sum)} for one doc."""
    arr = np.asarray(tokens, dtype=np.int64)
    out = {}
    for w in range(0, (len(arr) + stride - 1) // stride):
        seg = arr[w * stride : (w + 1) * stride]
        out[w] = (len(seg), int(seg.min()), int(seg.max()), int(seg.sum()))
    return out


@pytest.fixture(scope="module")
def rollups(spark, tokens_df):
    rows = tiered_rollups(tokens_df).collect()
    return {t: [r for r in rows if r.tier == t] for t in TIER_STRIDES}


class TestTierRollups:
    @pytest.mark.parametrize("tier", [0, 1, 2])
    def test_matches_oracle(self, rollups, tokens_rows, tier):
        stride = TIER_STRIDES[tier]
        golden = {}
        for doc_id, toks, _src in tokens_rows:
            for w, aggs in _oracle_rollup(toks, stride).items():
                golden[(doc_id, w)] = aggs
        got = {
            (r.doc_id, r.window_idx): (r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in rollups[tier]
        }
        assert got == golden

    def test_dense_arrays_have_no_gaps(self, rollups):
        for tier in (0, 1, 2):
            assert all(not r.gapfilled for r in rollups[tier])

    @pytest.mark.parametrize("tier", [0, 1, 2])
    def test_tiers_builds_only_the_needed_branch(self, rollups, tokens_df, tier):
        # one tier alone equals that tier of the full frame, and runs only
        # its own branch: tier 0 never starts Python, tiers 1/2 never explode
        alone = tiered_rollups(tokens_df, tiers=(tier,))
        assert sorted(alone.collect()) == sorted(rollups[tier])
        plan = alone._jdf.queryExecution().executedPlan().toString()
        assert ("MapInArrow" in plan) == (tier != 0)
        assert ("posexplode" in plan) == (tier == 0)

    def test_tier2_composes_from_tier1(self, spark, tokens_df):
        # composing 8×8 from tier-1 must equal a direct 64× rollup
        points = explode_points(tokens_df)
        direct = {
            (r.doc_id, r.window_idx): (r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in rollup_points(points, 64, 2).collect()
        }
        composed = {
            (r.doc_id, r.window_idx): (r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in tiered_rollups(tokens_df, with_gapfill=False)
            .filter(F.col("tier") == 2)
            .collect()
        }
        assert composed == direct


class TestGapfill:
    def test_sparse_points_gapfilled(self, spark):
        # simulate retention-expired segment: doc with 40 tokens but
        # points 8..31 deleted → tier-1 windows 1..3 are gaps
        tokens_df = spark.createDataFrame(
            [("d1", list(range(40)), 40, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        points = explode_points(tokens_df).filter(
            ~F.col("point_index").between(8, 31)
        )
        filled = gapfill(rollup_points(points, 8, 1), tokens_df, 8, 1).collect()
        by_w = {r.window_idx: r for r in filled}
        assert sorted(by_w) == [0, 1, 2, 3, 4]
        for w in (1, 2, 3):
            r = by_w[w]
            assert r.gapfilled and r.agg_count == 0
            assert r.agg_min is None and r.agg_max is None and r.agg_sum is None
        assert not by_w[0].gapfilled and by_w[0].agg_count == 8

    def test_locf_carry_forward(self, spark):
        tokens_df = spark.createDataFrame(
            [("d1", list(range(40)), 40, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        points = explode_points(tokens_df).filter(
            ~F.col("point_index").between(8, 31)
        )
        filled = gapfill_locf(gapfill(rollup_points(points, 8, 1), tokens_df, 8, 1))
        by_w = {r.window_idx: r for r in filled.collect()}
        # gaps carry window 0's aggregates
        for w in (1, 2, 3):
            assert by_w[w].agg_min == 0
            assert by_w[w].agg_max == 7
            assert by_w[w].agg_sum == 28
            assert by_w[w].agg_count == 0  # count stays 0: window truly empty
        assert by_w[4].agg_min == 32  # real data resumes


def test_exact_window_matches_null_tokens_never_match(spark):
    """Windows containing NULL tokens key to NULL and are dropped —
    concat_ws alone would skip the null and collide [1,NULL,2] with
    [1,2,NULL] (the DuckDB twin's || yields NULL keys that never join)."""
    from tsc_spark.operators.matching import exact_window_matches

    df = spark.createDataFrame(
        [("d1", [1, None, 2, 1, 2, None])],
        "doc_id string, tokens array<int>",
    )
    assert exact_window_matches(df, window_sizes=(3,)).count() == 0
    import pytest

    with pytest.raises(ValueError):
        exact_window_matches(df, window_sizes=())


def test_filter_contained_relational_dedups_exact_duplicates(spark):
    from tsc_spark.operators.matching import filter_contained_relational

    dup = spark.createDataFrame(
        [("d", 0, 5, 3), ("d", 0, 5, 3)],
        "doc_id string, q_start int, db_start int, window_size int",
    )
    assert filter_contained_relational(dup).count() == 1


def test_octave_matches_skew_cap_bounds_pairs(spark):
    """The grouped expansion + cap from exact_window_matches now guards
    the octave matcher too: a constant-token doc's quadratic key is
    bounded."""
    from tsc_spark.operators.matching import octave_invariant_matches

    deg = spark.createDataFrame(
        [("d", [5] * 40)], "doc_id string, tokens array<int>"
    )
    uncapped = octave_invariant_matches(deg, window_size=4).count()
    capped = octave_invariant_matches(
        deg, window_size=4, max_positions_per_key=8
    ).count()
    assert uncapped == 37 * 36 // 2
    assert capped == 8 * 7 // 2


def test_synth_tokens_skewed_parallelism_invariant(spark):
    """The skew-bench corpus must be bit-identical at any partitioning —
    the property that makes the balanced-vs-hash comparison a controlled
    experiment (same input, only the partitioning varies)."""
    from tsc_spark.sources.synth import synth_tokens_skewed

    a = synth_tokens_skewed(spark, 300, heavy_docs=4, heavy_len=64, partitions=2)
    b = synth_tokens_skewed(spark, 300, heavy_docs=4, heavy_len=64, partitions=7)
    ra = sorted((r.doc_id, list(r.tokens), r.n_tok, r.source) for r in a.collect())
    rb = sorted((r.doc_id, list(r.tokens), r.n_tok, r.source) for r in b.collect())
    assert ra == rb
    heavy = [r for r in ra if r[3] == "heavy"]
    assert len(heavy) == 4 and all(r[2] == 64 for r in heavy)


def test_null_token_element_rejected_on_every_tier_and_in_stream(spark, tmp_path):
    """``[1, NULL, 3]`` breaks the token contract: every tier and the
    streaming refresh fail with an error naming the rule."""
    from tsc_spark.streaming.rollup_stream import run_rollup_stream

    bad = spark.createDataFrame(
        [("ok", [4, 5], 2, "s"), ("bad", [1, None, 3], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    for tier in TIER_STRIDES:  # each tier's branch alone, then all at once
        with pytest.raises(Exception, match="NULL token element"):
            tiered_rollups(bad, tiers=(tier,)).collect()
    with pytest.raises(Exception, match="NULL token element"):
        tiered_rollups(bad).collect()

    src = str(tmp_path / "src")
    bad.write.parquet(src)
    with pytest.raises(Exception, match="NULL token element"):
        run_rollup_stream(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
