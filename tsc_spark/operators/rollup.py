"""Tiered continuous aggregates (1×/8×/64× downsample) with gap-fill.

The genuinely new aggregation mandated by the north rule on top of the
reference's clustering (the reference's analogue is the per-series point
stream grouped by synthetic time, /root/reference/scripts/seed_influx.jl:
575-598).  Everything but the tier-1/2 kernel is native DataFrame API —
Catalyst sees every operator, so AQE handles partial aggregation,
shuffle sizing and skew.

Design for 100 TB:
* every tier is a SHUFFLE-FREE per-row transform over the token arrays
  — a doc's windows never cross rows, so no tier pays a shuffle at all.
  ``tiered_rollups`` emits all three tiers as one DataFrame: tier 0 is
  the JVM ``posexplode``, tiers 1 and 2 come out of one ``mapInArrow``
  pass that reads the list column's flat values buffer and list lengths
  and reduces with numpy ``reduceat``, tier 2 from tier 1's windows
  (exact because count/min/max/sum are decomposable).  On a 4-core host
  a full pass over 40k docs (2.2M points) took a median 1.19 s (1.84M
  points/s) against 2.10 s (1.05M points/s) for the former plan of
  three scans and two ``mapInPandas`` passes (perfbench ``rollup_scan``,
  seeds 1-10, runs interleaved);
* ``rollup_points`` (explode + groupBy) is the oracle and the sparse
  point-stream path;
* gap-fill generates the expected window grid with ``sequence`` +
  explode and left-joins actuals: both sides are partitioned by doc_id,
  so AQE plans a co-partitioned join without a broadcast of big data.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import TIER_STRIDES

__all__ = [
    "explode_points",
    "rollup_points",
    "NULL_TOKEN_MESSAGE",
    "tiered_rollups",
    "gapfill",
    "gapfill_locf",
    "contextual_width",
    "normalize_window_scores",
    "combined_window_scores",
    "series_stats",
]


def explode_points(tokens_df: DataFrame) -> DataFrame:
    """tokens table → dense point stream (doc_id, point_index, token).

    Equivalent of the reference's per-point rows keyed by series tag +
    point_index field (scripts/seed_influx.jl:589-596)."""
    return tokens_df.select(
        "doc_id",
        F.posexplode("tokens").alias("point_index", "token"),
    )


def rollup_points(points: DataFrame, stride: int, tier: int) -> DataFrame:
    """Aggregate a (doc_id, point_index, token) stream into tier windows.

    Deterministic reducers only (count/min/max/sum) so rolled-up points
    are exactly reproducible at any parallelism."""
    return (
        points.groupBy(
            "doc_id",
            F.floor(F.col("point_index") / F.lit(stride)).cast("long").alias("window_idx"),
        )
        .agg(
            F.count("token").alias("agg_count"),
            F.min("token").alias("agg_min"),
            F.max("token").alias("agg_max"),
            F.sum("token").alias("agg_sum"),
        )
        .withColumn("tier", F.lit(tier))
    )


NULL_TOKEN_MESSAGE = (
    "NULL token element: the token contract (tsc_spark.sources.tokens) "
    "rejects NULLs inside token arrays instead of rolling them up"
)

_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("window_idx", pa.int64()),
        ("agg_count", pa.int64()),
        ("agg_min", pa.int32()),
        ("agg_max", pa.int32()),
        ("agg_sum", pa.int64()),
        ("tier", pa.int32()),
    ]
)
_ROLLUP_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)


def _windows(lens: np.ndarray, stride: int):
    """Stride windows over segments of ``lens`` items laid end to end:
    each window's segment, its index within the segment and the offset
    of its first item.  Windows never cross a segment boundary, so each
    offset runs to the next one — exactly the segments ``reduceat``
    reduces."""
    n_win = -(-lens // stride)
    owner = np.repeat(np.arange(lens.size), n_win)
    widx = np.arange(owner.size) - (np.cumsum(n_win) - n_win)[owner]
    starts = (np.cumsum(lens) - lens)[owner] + widx * stride
    return owner, widx, starts


def _rollup_batches(batches):
    """mapInArrow body: tier-1 and tier-2 windows of (doc_id, tokens)
    batches.  The token list column is read as its flat values buffer
    plus list lengths, with no per-row Python and no pandas."""
    for batch in batches:
        tokens = batch.column(1)
        values = tokens.flatten()  # honours the batch slice and NULL lists
        # a NULL slot's value bytes are undefined: reject, never reduce
        if values.null_count:
            raise ValueError(NULL_TOKEN_MESSAGE)
        if len(values) == 0:
            continue
        n_pts = pc.list_value_length(tokens).fill_null(0).to_numpy().astype(np.int64)
        lens = n_pts
        mins = maxs = sums = values.to_numpy()
        for tier in (1, 2):
            # tier 1 reduces the points, tier 2 the tier-1 windows
            # (count/min/max/sum are decomposable, so 64 = 8 × 8 is exact)
            factor = TIER_STRIDES[tier] // TIER_STRIDES[tier - 1]
            owner, widx, starts = _windows(lens, factor)
            mins = np.minimum.reduceat(mins, starts)
            maxs = np.maximum.reduceat(maxs, starts)
            sums = np.add.reduceat(sums, starts, dtype=np.int64)
            stride = TIER_STRIDES[tier]
            counts = np.minimum(stride, n_pts[owner] - widx * stride)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(owner),
                    pa.array(widx),
                    pa.array(counts),
                    pa.array(mins),
                    pa.array(maxs),
                    pa.array(sums),
                    pa.array(np.full(owner.size, tier, dtype=np.int32)),
                ],
                schema=_ARROW_SCHEMA,
            )
            lens = -(-lens // factor)


def _expected_grid(tokens_df: DataFrame, stride: int) -> DataFrame:
    """One row per expected window: ceil(n_tok / stride) windows per doc
    (docs with n_tok == 0 have no expected windows)."""
    n_win = F.ceil(F.col("n_tok") / F.lit(stride)).cast("long")
    return (
        tokens_df.select("doc_id", n_win.alias("n_win"))
        .filter(F.col("n_win") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_win") - 1)).alias(
                "window_idx"
            ),
        )
    )


def gapfill(
    rollup: DataFrame, tokens_df: DataFrame, stride: int, tier: int
) -> DataFrame:
    """Left-join the expected window grid with actual rollup windows.

    Missing windows are emitted with agg_count=0 and NULL min/max/sum,
    gapfilled=true (the LOCF carry-forward is the separate, composable
    ``gapfill_locf`` operator).  Dense token arrays have no gaps by
    construction; gaps appear for sparse point streams (deletes,
    retention-expired segments)."""
    grid = _expected_grid(tokens_df, stride)
    joined = grid.join(rollup, ["doc_id", "window_idx"], "left")
    return joined.select(
        "doc_id",
        F.lit(tier).alias("tier"),
        "window_idx",
        F.coalesce(F.col("agg_count"), F.lit(0)).alias("agg_count"),
        "agg_min",
        "agg_max",
        "agg_sum",
        F.col("agg_count").isNull().alias("gapfilled"),
    )


def gapfill_locf(filled: DataFrame) -> DataFrame:
    """Carry the previous non-gap window's aggregates forward into gaps
    (last-observation-carried-forward), per doc in window order."""
    w = (
        Window.partitionBy("doc_id", "tier")
        .orderBy("window_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "doc_id",
        "tier",
        "window_idx",
        "agg_count",
        F.last("agg_min", ignorenulls=True).over(w).alias("agg_min"),
        F.last("agg_max", ignorenulls=True).over(w).alias("agg_max"),
        F.last("agg_sum", ignorenulls=True).over(w).alias("agg_sum"),
        "gapfilled",
    )


def _gapfill_dense(rollup: DataFrame) -> DataFrame:
    """Gap-fill for the dense array path: token position IS the window
    index, so the expected grid equals the actual windows and the join
    degenerates to a literal column (zero-cost, same output schema as
    ``gapfill``)."""
    return rollup.select(
        "doc_id",
        "tier",
        "window_idx",
        "agg_count",
        "agg_min",
        "agg_max",
        "agg_sum",
        F.lit(False).alias("gapfilled"),
    )


def _tier0(tokens_df: DataFrame) -> DataFrame:
    """tier-0 windows ARE the points: a native ``posexplode`` that fails
    on a NULL token instead of emitting it."""
    token = F.col("token")
    return (
        explode_points(tokens_df)
        .select(
            "doc_id",
            F.col("point_index").cast("long").alias("window_idx"),
            F.when(token.isNull(), F.raise_error(F.lit(NULL_TOKEN_MESSAGE)))
            .otherwise(token)
            .alias("token"),
        )
        .select(
            "doc_id",
            "window_idx",
            F.lit(1).cast("long").alias("agg_count"),
            token.alias("agg_min"),
            token.alias("agg_max"),
            token.cast("long").alias("agg_sum"),
            F.lit(0).alias("tier"),
        )
    )


def tiered_rollups(
    tokens_df: DataFrame,
    with_gapfill: bool = True,
    tiers: tuple[int, ...] = tuple(TIER_STRIDES),
) -> DataFrame:
    """Tier-0/1/2 rollup set from a tokens table, as ONE DataFrame whose
    ``tier`` column tells the tiers apart.

    tier-0 = stride 1 (raw points as windows), tier-1 = 8×, tier-2 = 64×.
    Every tier is shuffle-free.  tier-0 is the native ``posexplode`` of
    the points.  tiers 1 and 2 come out of one ``mapInArrow`` pass
    (``_rollup_batches``), which computes tier 2 from tier 1's windows.
    A full pass is one job with two scans of the corpus.  Measured on a
    4-core host over 400k docs (22.2M points), best of 3: tiers 1 and 2
    together in this pass 1.80 s, where tier 1 alone took 3.67 s as the
    interpreted higher-order-function plan, 3.06 s as explode + groupBy
    and 4.72 s as the former pandas ``reduceat`` kernel; a full pass
    2.59 s against 8.64 s for the former three-scan plan.  A token array with a NULL element fails the pass
    (``NULL_TOKEN_MESSAGE``).

    ``tiers`` picks the tiers to emit, and only the branches they need
    are built: a tier-0 read never runs the Arrow pass, and a tier-1/2
    read never scans for tier 0 (a streaming plan keeps the scan of a
    union branch a filter empties).  Dense arrays cannot have gaps, so
    gap-fill is the zero-cost dense variant.  Sparse point streams
    (deletes, retention-expired ranges) use ``rollup_points`` +
    ``gapfill`` instead."""
    out = _tier0(tokens_df) if 0 in tiers else None
    if set(tiers) - {0}:
        upper = tokens_df.select("doc_id", "tokens").mapInArrow(
            _rollup_batches, _ROLLUP_SCHEMA
        )
        if not {1, 2} <= set(tiers):
            upper = upper.filter(F.col("tier").isin(*tiers))
        out = upper if out is None else out.unionByName(upper)
    return _gapfill_dense(out) if with_gapfill else out


def contextual_width(tokens_df: DataFrame, min_width: float = 1.0) -> DataFrame:
    """Per-doc contextual value width over the full series.

    Reference update_value_width! (/root/reference/src/polyphonic/
    polyphonic_cluster_manager.jl:1063-1094): width = |mean(values >=
    mean) − mean(values <= mean)| clamped below by contextual_min_width;
    degenerate width becomes 1.0.  All-native and per-row; the mean is
    materialized as a column BEFORE the half filters so the filter
    lambdas bind a row attribute — inlining the aggregate expression
    into the lambda re-evaluates it per array element (O(n²))."""
    toks = F.transform(F.col("tokens"), lambda t: t.cast("double"))
    staged = tokens_df.select("doc_id", toks.alias("vals")).withColumn(
        "data_mean",
        F.when(
            F.size("vals") > 0,
            F.aggregate("vals", F.lit(0.0), lambda a, x: a + x) / F.size("vals"),
        ).otherwise(F.lit(0.0)),
    )

    def half_mean(cmp):
        half = F.filter(F.col("vals"), cmp)
        return F.when(
            F.size(half) > 0,
            F.aggregate(half, F.lit(0.0), lambda a, x: a + x) / F.size(half),
        ).otherwise(F.lit(0.0))

    staged = staged.withColumn(
        "lower_half_avg", half_mean(lambda x: x <= F.col("data_mean"))
    ).withColumn("upper_half_avg", half_mean(lambda x: x >= F.col("data_mean")))
    delta = F.greatest(
        F.abs(F.col("upper_half_avg") - F.col("lower_half_avg")),
        F.lit(float(min_width)),
    )
    width = F.when(delta <= 0.0, F.lit(1.0)).otherwise(delta)
    return staged.select(
        "doc_id",
        F.round("data_mean", 6).alias("data_mean"),
        F.round("lower_half_avg", 6).alias("lower_half_avg"),
        F.round("upper_half_avg", 6).alias("upper_half_avg"),
        F.round(width, 6).alias("value_width"),
    )


def normalize_window_scores(rollup_df: DataFrame) -> DataFrame:
    """Min-max normalize each doc's window sums with the reference's
    reliability weight (normalize_scores, /root/reference/src/controllers/
    time_series_controller.jl:2095-2117): weight 0.0 when all values are
    equal, 0.2 when only two distinct values, 1.0 otherwise.

    Expects dense windows (raw rollup or LOCF-filled): a NULL ``agg_sum``
    from un-filled gap rows would propagate to a NULL score."""
    w = Window.partitionBy("doc_id")
    vmin = F.min("agg_sum").over(w)
    vmax = F.max("agg_sum").over(w)
    nuniq = F.size(F.collect_set("agg_sum").over(w))
    # degenerate all-equal case fills 0.5, exactly like the reference
    # (fill(0.5, ...), controller :2105-2109) — the 0-weight reliability
    # is what nullifies it downstream, not the normalized value itself
    norm = F.when(vmax > vmin, (F.col("agg_sum") - vmin) / (vmax - vmin)).otherwise(
        F.lit(0.5)
    )
    reliability = (
        F.when(nuniq <= 1, F.lit(0.0)).when(nuniq == 2, F.lit(0.2)).otherwise(F.lit(1.0))
    )
    return rollup_df.select(
        "doc_id",
        "window_idx",
        F.round(norm, 6).alias("norm_score"),
        reliability.alias("reliability"),
    )


def combined_window_scores(rollup_df: DataFrame) -> DataFrame:
    """normalize_scores + combine_complexity_metric_scores, relationally.

    The generation scorer's full pipeline (reference controller
    :2095-2156) over rollup windows: four per-doc min-max-normalized
    metrics — sum (complex when larger), count (smaller), max (larger),
    min (smaller) — each weighted by the unique-count reliability
    (0 / 0.2 / 1), combined as the reliability-weighted mean with unit
    metric weights.  Mirrors kernel.scoring exactly; all-native window
    functions (one shuffle on doc_id)."""
    w = Window.partitionBy("doc_id")

    def metric(col, larger: bool):
        c = F.col(col).cast("double")
        vmin = F.min(c).over(w)
        vmax = F.max(c).over(w)
        nuniq = F.size(F.collect_set(c).over(w))
        norm = F.when(vmax > vmin, (c - vmin) / (vmax - vmin)).otherwise(F.lit(0.5))
        directed = norm if larger else (F.lit(1.0) - norm)
        rel = (
            F.when(nuniq <= 1, F.lit(0.0))
            .when(nuniq == 2, F.lit(0.2))
            .otherwise(F.lit(1.0))
        )
        return directed * rel, rel

    d_score, d_rel = metric("agg_sum", True)
    q_score, q_rel = metric("agg_count", False)
    c_score, c_rel = metric("agg_max", True)
    u_score, u_rel = metric("agg_min", False)
    denom = d_rel + q_rel + c_rel + u_rel
    combined = F.when(
        denom > 0.0, (d_score + q_score + c_score + u_score) / denom
    ).otherwise(F.lit(0.0))
    return rollup_df.select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        F.round(combined, 6).alias("combined_score"),
    )


def series_stats(tokens_df: DataFrame) -> DataFrame:
    """Per-series stats scan (reference _fetch_series_stats*,
    /root/reference/src/controllers/time_series_controller.jl:648-691):
    series list + point counts, computed without exploding (F.size)."""
    return tokens_df.select(
        "doc_id",
        "source",
        F.size("tokens").alias("point_count"),
    )
