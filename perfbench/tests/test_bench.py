"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The Spark tests run the rollup_scan workload at probe size twice: once on
``tiered_rollups`` as it is (``{tier: DataFrame}``) and once with it
returning a single DataFrame with a ``tier`` column, the shape a planned
single-scan rewrite returns.  Both must pass every output check.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tsbench import oracles, runtime  # noqa: E402
from tsbench.report import tail  # noqa: E402
from tsbench.tracing import Tracer, parse_metric_total  # noqa: E402


def test_parse_metric_total():
    assert parse_metric_total("11.9 MiB") == pytest.approx(11.9 * 1024**2)
    assert parse_metric_total("635 ms") == 635
    assert parse_metric_total("2,770,025") == 2770025
    two_line = "total (min, med, max (stageId: taskId))\n4.2 s (1.0 s, 1.1 s, 1.1 s (stage 2.0: task 5))"
    assert parse_metric_total(two_line) == pytest.approx(4200)


def test_tail_needs_ten_samples_beyond():
    assert "dropped" in tail([1.0] * 10)
    lat = sorted(float(i) for i in range(1, 21))
    t = tail(lat)
    assert t["value"] == 10.0 and t["percentile"] == 50.0 and t["samples"] == 20
    assert sum(1 for x in lat if x > t["value"]) == 10
    assert tail([1.0] * 10 + [math.inf])["value"] == 1.0


def test_window_oracle():
    assert oracles.windows([3, 1, 2, 9, 4], 2) == [(0, 2, 1, 3, 4), (1, 2, 2, 9, 11), (2, 1, 4, 4, 4)]
    assert oracles.exact_window_pairs([("a", [1, 2, 1, 2, 1, 2])], 2) == (4, 4 + 2 * 6)


def test_self_time_excludes_children():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.self_times()
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"]
    assert outer["self_s"] == pytest.approx(outer["dur_s"] - inner["dur_s"] - inner["read_s"])


@pytest.fixture(scope="module")
def spark():
    work = runtime.make_work_dir("tests")
    runtime.import_program()
    session = runtime.start_spark(work)
    yield session, work
    runtime.stop_spark(session)
    shutil.rmtree(work, ignore_errors=True)


def _single_frame(original):
    """``tiered_rollups`` returning one DataFrame with a ``tier`` column."""

    def wrapped(*args, **kwargs):
        frames = [f for _, f in sorted(original(*args, **kwargs).items())]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    return wrapped


@pytest.mark.parametrize("shape", ["dict", "single_frame"])
def test_rollup_scan_accepts_both_return_shapes(spark, shape, monkeypatch):
    import tsc_spark.operators.rollup as rollup
    from tsbench.workloads import RollupScan

    session, work = spark
    if shape == "single_frame":
        monkeypatch.setattr(rollup, "tiered_rollups", _single_frame(rollup.tiered_rollups))
    tracer = Tracer(session, enabled=True)
    wl = RollupScan(session, os.path.join(work, shape), 7, tracer, scale="probe", trace=True)
    wl.setup()
    wl.round()
    wl.check()
    assert [op["failed"] for op in wl.ops] == [False]
    tracer.self_times()
    m = wl.layer_metrics()
    # the single-frame stand-in is today's three tier plans in one union,
    # so both shapes still scan the corpus three times per pass
    assert m["rollup.scans_per_pass"] == 3
    assert m["rollup.py_bytes_in_per_point"] > 0
    assert all(m[f"rollup.tier{t}_s"] > 0 for t in (0, 1, 2))


def test_rollup_scan_check_catches_wrong_rows(spark, monkeypatch):
    import tsc_spark.operators.rollup as rollup
    from pyspark.sql import functions as F
    from tsbench.workloads import RollupScan

    session, work = spark
    original = rollup.tiered_rollups

    def off_by_one(df, **kw):
        out = original(df, **kw)
        out[1] = out[1].withColumn("agg_sum", F.col("agg_sum") + 1)
        return out

    monkeypatch.setattr(rollup, "tiered_rollups", off_by_one)
    wl = RollupScan(session, os.path.join(work, "wrong"), 7, Tracer(), scale="probe")
    wl.setup()
    wl.round()
    wl.check()
    assert wl.ops[0]["failed"]
