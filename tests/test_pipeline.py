"""Resumable pipeline: checkpoint manifests, no duplicate work on
resume, identical outputs vs a fresh full run (SURVEY §5.5)."""

import os

import pytest

from tsc_spark.functions import decode_tokens_table
from tsc_spark.plans.pipeline import (
    ingest,
    pipeline_metrics,
    read_tier,
    run_pipeline,
)


@pytest.fixture()
def base_dir(tmp_path, spark, tokens_df):
    d = str(tmp_path / "pipe")
    ingest(spark, tokens_df, d, n_buckets=4)
    return d


def _tier_snapshot(spark, base_dir, tier):
    rows = read_tier(spark, base_dir, tier).collect()
    return sorted(
        (r.doc_id, r.window_idx, r.agg_count, r.agg_min, r.agg_max, r.agg_sum, r.gapfilled)
        for r in rows
    )


class TestPipeline:
    def test_full_run_writes_all_manifests(self, spark, base_dir):
        manifests = run_pipeline(spark, base_dir, with_timeline=False)
        assert len(manifests) == 4
        assert all(m["watermarks"]["tier2_max_window_idx"] >= -1 for m in manifests)
        assert all(m["docs"] > 0 for m in manifests)
        assert sum(m["docs"] for m in manifests) == 56  # 48 synth + 8 edge

    def test_resume_skips_done_buckets(self, spark, base_dir):
        first = run_pipeline(spark, base_dir, buckets=[0, 1], with_timeline=False)
        assert [m["bucket"] for m in first] == [0, 1]
        # mtimes of finished buckets must not change on resume
        m0 = os.path.join(base_dir, "_checkpoints", "bucket=00000.json")
        mtime_before = os.path.getmtime(m0)
        rest = run_pipeline(spark, base_dir, with_timeline=False)
        assert [m["bucket"] for m in rest] == [2, 3]
        assert os.path.getmtime(m0) == mtime_before

    def test_resumed_equals_fresh(self, spark, tokens_df, tmp_path):
        d1 = str(tmp_path / "fresh")
        ingest(spark, tokens_df, d1, n_buckets=4)
        run_pipeline(spark, d1, with_timeline=False)

        d2 = str(tmp_path / "resumed")
        ingest(spark, tokens_df, d2, n_buckets=4)
        run_pipeline(spark, d2, buckets=[1, 3], with_timeline=False)  # partial
        run_pipeline(spark, d2, with_timeline=False)  # resume the rest

        for tier in (0, 1, 2):
            assert _tier_snapshot(spark, d1, tier) == _tier_snapshot(spark, d2, tier)

    def test_encoded_roundtrip_through_parquet(self, spark, base_dir, tokens_rows):
        run_pipeline(spark, base_dir, with_timeline=False)
        enc = spark.read.parquet(os.path.join(base_dir, "encoded"))
        dec = decode_tokens_table(enc)
        got = {r.doc_id: list(r.tokens) for r in dec.collect()}
        for doc_id, toks, _src in tokens_rows:
            assert got[doc_id] == toks, doc_id

    def test_metrics_readable(self, spark, base_dir):
        run_pipeline(spark, base_dir, with_timeline=False)
        metrics = pipeline_metrics(base_dir)
        assert len(metrics) == 4
        assert all("points_per_sec" in m and "doc_id_range" in m for m in metrics)


def test_cli_emits_processing_time_stage_records(tmp_path):
    """The pipeline CLI stamps per-stage processing_time and a total
    processingTime, reference-compatibly rounded to 2 digits
    (time_series_controller.jl:2240, config.jl:17)."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "run_pipeline.py"),
         "--synth-docs", "200", "--buckets", "2", "--master", "local[2]",
         "--retention", "8,4,2", "--base-dir", str(tmp_path / "p")],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    stage_names = [s["stage"] for s in out["stages"]]
    assert stage_names == ["ingest", "rollup", "retention"]
    for s in out["stages"]:
        assert isinstance(s["processing_time"], float)
        assert s["processing_time"] == round(s["processing_time"], 2)
    assert out["processingTime"] >= max(s["processing_time"] for s in out["stages"])


def test_processing_time_rounding():
    from tsc_spark.config import PROCESSING_TIME_DIGITS, processing_time_s

    assert PROCESSING_TIME_DIGITS == 2
    assert processing_time_s(10.0, now=11.236) == 1.24
    assert processing_time_s(10.0, now=11.2) == 1.2


def test_empty_buckets_complete_with_empty_manifests(spark, tmp_path):
    """More buckets than docs: hash-empty buckets get no directory from
    partitionBy, but the run must still complete and commit an empty
    manifest so resume terminates."""
    few = spark.createDataFrame(
        [(f"d{i}", list(range(5)), 5, "s") for i in range(3)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    d = str(tmp_path / "sparse")
    ingest(spark, few, d, n_buckets=16)
    manifests = run_pipeline(spark, d, with_timeline=False, with_encoded=False)
    assert len(manifests) == 16
    empties = [m for m in manifests if m["docs"] == 0]
    assert empties, "expected at least one hash-empty bucket"
    assert all(m["points"] == 0 for m in empties)
    # second run resumes cleanly past the empty buckets
    assert run_pipeline(spark, d, with_timeline=False, with_encoded=False) == []


def test_resume_produces_outputs_missing_from_earlier_run(spark, base_dir):
    """A run with with_timeline=False must not suppress the timeline a
    later with_timeline=True run asks for (manifests record outputs)."""
    run_pipeline(spark, base_dir, with_timeline=False, with_encoded=False)
    assert not os.path.isdir(os.path.join(base_dir, "timeline"))
    redone = run_pipeline(spark, base_dir, with_timeline=True, with_encoded=False)
    assert len(redone) == 4  # all buckets reprocessed for the new output
    assert os.path.isdir(os.path.join(base_dir, "timeline"))
    # and a third identical run is a full skip
    assert run_pipeline(spark, base_dir, with_timeline=True, with_encoded=False) == []


def test_manifest_watermarks_match_written_files(spark, base_dir):
    """The derived per-tier watermark (from max n_tok) must equal the
    actual max window_idx in the written rollup files."""
    import pyspark.sql.functions as F

    manifests = run_pipeline(spark, base_dir, with_timeline=False)
    for m in manifests:
        for tier in (0, 1, 2):
            path = os.path.join(
                base_dir, "rollup", f"tier={tier}", f"bucket={m['bucket']}"
            )
            actual = (
                spark.read.parquet(path).agg(F.max("window_idx")).collect()[0][0]
            )
            assert m["watermarks"][f"tier{tier}_max_window_idx"] == int(actual), (
                m["bucket"], tier
            )


def test_retention_rewrite_preserves_tier_column(spark, base_dir):
    """Swept buckets must keep the same file schema (incl. tier) as
    unswept ones, or read_tier's merged schema becomes nondeterministic."""
    from tsc_spark.operators.retention import apply_retention

    run_pipeline(spark, base_dir, with_timeline=False)
    cols_before = set(read_tier(spark, base_dir, 0).columns)
    apply_retention(spark, base_dir, {0: 4, 1: 2, 2: 1}, buckets=[0, 1])
    cols_after = set(read_tier(spark, base_dir, 0).columns)
    assert cols_after == cols_before
    # every row still carries a concrete tier value
    assert read_tier(spark, base_dir, 0).filter("tier IS NULL").count() == 0


def test_stored_n_tok_never_disagrees_with_tokens(spark, tmp_path):
    """A stored ``n_tok`` of 3 over 9 tokens is re-derived on read: the
    tiers equal the oracle and the manifest watermarks equal the max
    window_idx actually written."""
    import pyspark.sql.functions as F

    from tsc_spark.operators.rollup import explode_points, rollup_points, tiered_rollups
    from tsc_spark.sources.tokens import read_tokens

    raw = str(tmp_path / "raw.parquet")
    spark.createDataFrame(
        [("d", list(range(9)), 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.parquet(raw)
    toks = read_tokens(spark, raw)
    assert toks.collect()[0].n_tok == 9

    cols = ["doc_id", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum"]
    got = tiered_rollups(toks, with_gapfill=False)
    for tier, stride in ((0, 1), (1, 8), (2, 64)):
        want = rollup_points(explode_points(toks), stride, tier)
        assert sorted(
            map(tuple, got.filter(F.col("tier") == tier).select(*cols).collect())
        ) == sorted(map(tuple, want.select(*cols).collect()))

    base = str(tmp_path / "pipe")
    ingest(spark, toks, base, n_buckets=1)
    (manifest,) = run_pipeline(spark, base, with_timeline=False, with_encoded=False)
    for tier in (0, 1, 2):
        written = read_tier(spark, base, tier).agg(F.max("window_idx")).collect()[0][0]
        assert manifest["watermarks"][f"tier{tier}_max_window_idx"] == written
