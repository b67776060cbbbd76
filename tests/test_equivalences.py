"""Cross-implementation equivalence properties.

Two independent implementations of the same operator must agree exactly;
hypothesis drives the series shapes.
"""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

token_series = st.lists(st.integers(min_value=-50, max_value=50), max_size=40)


@settings(max_examples=30, deadline=None)
@given(token_series)
def test_poly_singleton_equivalence_property(toks):
    """Random series: set-mode manager on singletons == scalar kernel."""
    from tsc_spark.kernel.manager import ClusterManager
    from tsc_spark.kernel.polymanager import PolyClusterManager

    sm = ClusterManager(
        [float(v) for v in toks], 0.3, 2, True,
        scale_mode="contextual_global_halves", contextual_min_width=1.0,
    )
    sm.process_data()
    pm = PolyClusterManager(
        [[float(v)] for v in toks], 0.3, 2, True,
        scale_mode="contextual_global_halves", contextual_min_width=1.0,
    )
    pm.process_data()
    assert pm.timeline() == sm.timeline()


class TestRollupPathEquivalence:
    """Each upper tier of the one-pass Arrow kernel (``tiered_rollups``)
    emits the same rows as explode + groupBy at that tier's stride."""

    @pytest.fixture(scope="class")
    def toks(self, spark):
        from tsc_spark.sources.synth import synth_tokens_table

        df = synth_tokens_table(spark, n_docs=40, include_edges=True)
        df.cache().count()
        return df

    @pytest.mark.parametrize("stride,tier", [(8, 1), (64, 2)])
    def test_three_paths_agree(self, spark, toks, stride, tier):
        from tsc_spark.config import TIER_STRIDES
        from tsc_spark.operators.rollup import (
            explode_points,
            rollup_points,
            tiered_rollups,
        )

        assert TIER_STRIDES[tier] == stride
        cols = ["doc_id", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum", "tier"]

        def rows(df):
            return sorted(tuple(r) for r in df.select(*cols).collect())

        kernel = rows(tiered_rollups(toks, with_gapfill=False, tiers=(tier,)))
        grp = rows(rollup_points(explode_points(toks), stride, tier))
        assert kernel == grp
        assert len(kernel) > 0


INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1
int32_tokens = st.one_of(
    st.sampled_from([INT32_MIN, INT32_MAX, 0]),
    st.integers(min_value=INT32_MIN, max_value=INT32_MAX),
)
# window-boundary lengths around both strides (8 and 64), plus any length
doc_tokens = st.one_of(
    st.none(),
    st.one_of(
        st.sampled_from([0, 7, 8, 9, 63, 64, 65]), st.integers(0, 140)
    ).flatmap(lambda n: st.lists(int32_tokens, min_size=n, max_size=n)),
)
# every boundary length, empty and NULL arrays and int32 extremes at once
EDGE_DOCS = [None, [], [INT32_MAX] * 65, [INT32_MIN] * 64] + [
    list(range(n)) for n in (7, 8, 9, 63)
]


@settings(max_examples=15, deadline=None)
@example(docs=EDGE_DOCS)
@given(docs=st.lists(doc_tokens, min_size=1, max_size=8))
def test_tiered_rollups_equal_oracle_property(spark, docs):
    """Every tier of ``tiered_rollups`` equals the explode + groupBy
    oracle.  The drawn docs repeat over 520 rows in one partition, so
    each example runs three Arrow batches of mixed lengths."""
    import pyarrow as pa

    from tsc_spark.config import ARROW_MAX_RECORDS_PER_BATCH, TIER_STRIDES
    from tsc_spark.operators.rollup import explode_points, rollup_points, tiered_rollups

    n_rows = 2 * ARROW_MAX_RECORDS_PER_BATCH + 8
    # built from an Arrow table: a local relation, so each job below does
    # not re-run the Python row conversion
    df = spark.createDataFrame(
        pa.table(
            {
                "doc_id": [f"d{i:04d}" for i in range(n_rows)],
                "tokens": pa.array(
                    [docs[i % len(docs)] for i in range(n_rows)], pa.list_(pa.int32())
                ),
            }
        )
    ).coalesce(1)
    cols = ["doc_id", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum", "tier"]
    points = explode_points(df)
    want = None
    for tier, stride in TIER_STRIDES.items():
        rows = rollup_points(points, stride, tier)
        want = rows if want is None else want.unionByName(rows)
    got = tiered_rollups(df, with_gapfill=False)
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


# a doc is (tokens, keep): keep[i] False deletes point i from the stream
sparse_doc = st.one_of(
    st.sampled_from([0, 7, 8, 9, 63, 64, 65]), st.integers(0, 140)
).flatmap(
    lambda n: st.tuples(
        st.lists(int32_tokens, min_size=n, max_size=n),
        st.lists(st.booleans(), min_size=n, max_size=n),
    )
)
# boundary lengths with a deleted first window, a fully deleted doc, a
# deleted one-point last window and an empty doc
SPARSE_EDGE_DOCS = [
    ([], []),
    (list(range(65)), [i >= 8 for i in range(65)]),
    ([INT32_MIN] * 64, [False] * 64),
    (list(range(9)), [True] * 8 + [False]),
    ([INT32_MAX] * 7, [i % 2 == 0 for i in range(7)]),
    (list(range(63)), [True] * 63),
]


def _sparse_oracle(docs, stride, tier):
    """gapfill rows over the surviving points, in pure Python."""
    out = []
    for i, (toks, keep) in enumerate(docs):
        for w in range(-(-len(toks) // stride)):
            lo, hi = w * stride, min(len(toks), (w + 1) * stride)
            kept = [toks[j] for j in range(lo, hi) if keep[j]]
            if kept:
                out.append((f"d{i}", tier, w, len(kept), min(kept), max(kept), sum(kept), False))
            else:
                out.append((f"d{i}", tier, w, 0, None, None, None, True))
    return sorted(out, key=repr)


@settings(max_examples=15, deadline=None)
@example(docs=SPARSE_EDGE_DOCS)
@given(docs=st.lists(sparse_doc, min_size=1, max_size=6))
def test_sparse_gapfill_equals_oracle_property(spark, docs):
    """The sparse path: ``rollup_points`` over a point stream with random
    points deleted, then ``gapfill`` against the token table, equals a
    pure-Python rollup of the surviving points.  A window with no
    surviving point is emitted gap-filled, and each doc's last emitted
    window is ceil(n_tok / stride) - 1, the bound the pipeline
    watermark is derived from."""
    from pyspark.sql import functions as F

    from tsc_spark.config import TIER_STRIDES
    from tsc_spark.operators.rollup import explode_points, gapfill, rollup_points

    toks = spark.createDataFrame(
        [(f"d{i}", t) for i, (t, _) in enumerate(docs)],
        "doc_id string, tokens array<int>",
    ).withColumn("n_tok", F.size("tokens"))
    deleted = spark.createDataFrame(
        [(f"d{i}", j) for i, (_, keep) in enumerate(docs) for j, k in enumerate(keep) if not k],
        "doc_id string, point_index int",
    )
    points = explode_points(toks).join(deleted, ["doc_id", "point_index"], "left_anti")
    cols = ["doc_id", "tier", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum", "gapfilled"]
    for tier in (1, 2):  # strides 8 and 64
        stride = TIER_STRIDES[tier]
        got = sorted(
            map(tuple, gapfill(rollup_points(points, stride, tier), toks, stride, tier)
                .select(*cols).collect()),
            key=repr,
        )
        assert got == _sparse_oracle(docs, stride, tier)
        last = {}
        for r in got:
            last[r[0]] = max(last.get(r[0], -1), r[2])
        want_last = {
            f"d{i}": -(-len(t) // stride) - 1 for i, (t, _) in enumerate(docs) if t
        }
        assert last == want_last


@settings(deadline=None, max_examples=40)
@given(
    st.lists(st.integers(min_value=0, max_value=23), min_size=0, max_size=40),
)
def test_match_series_rollback_equals_fresh_copy(db_toks):
    """The journal-rollback matcher must (a) produce identical matches to
    a fresh seed copy and (b) leave the reusable seed bit-identical, so
    the Spark worker can amortise one unpickle across a whole batch."""
    import pickle

    from tsc_spark.kernel.matching import (
        build_query_seed,
        match_series,
        match_series_rollback,
    )

    seed = build_query_seed([0, 1, 3, 2, 4, 5, 3, 1])
    before = pickle.dumps(seed)
    tl_before = sorted((ws, cid, list(si)) for ws, cid, si in seed.timeline())
    n_before, width_before, ctr_before = seed.n, seed.value_width, seed.cluster_id_counter
    tasks_before = [(list(k), l) for k, l, _node in seed.tasks]

    fresh = pickle.loads(before)
    expected = match_series(fresh, db_toks, copy_seed=False)
    got = match_series_rollback(seed, db_toks)

    assert got == expected
    # seed state semantically restored (buffer capacity growth and set
    # iteration order may differ — both are pickle-visible but inert)
    assert seed.n == n_before
    assert seed.value_width == width_before
    assert seed.cluster_id_counter == ctr_before
    assert [(list(k), l) for k, l, _node in seed.tasks] == tasks_before
    assert sorted((ws, cid, list(si)) for ws, cid, si in seed.timeline()) == tl_before


def test_match_series_rollback_reusable_across_docs():
    """Sequential reuse over many docs == fresh copy per doc."""
    import pickle

    from tsc_spark.kernel.matching import (
        build_query_seed,
        match_series,
        match_series_rollback,
    )
    from tsc_spark.sources.synth import synth_tokens

    seed = build_query_seed([0, 1, 3, 2, 4, 5, 3, 1])
    seed_bytes = pickle.dumps(seed)
    for _doc_id, toks, _src in synth_tokens(24, include_edges=True):
        expected = match_series(pickle.loads(seed_bytes), toks, copy_seed=False)
        assert match_series_rollback(seed, toks) == expected


def test_window_matches_cap_bounds_degenerate_docs(spark):
    """A constant-token doc makes every window identical; the per-key
    position cap bounds the pair expansion while leaving normal docs
    untouched (operators.matching.exact_window_matches skew guard)."""
    from pyspark.sql import functions as F

    from tsc_spark.operators.matching import exact_window_matches

    df = spark.createDataFrame(
        [("const", [3] * 40), ("normal", [0, 1, 2, 0, 1, 2, 5, 7])],
        "doc_id string, tokens array<int>",
    )
    exact = exact_window_matches(df, window_sizes=(3,))
    capped = exact_window_matches(df, window_sizes=(3,), max_positions_per_key=8)

    n_exact = {r["doc_id"]: r["n"] for r in exact.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    n_capped = {r["doc_id"]: r["n"] for r in capped.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    # constant doc: 38 identical windows -> C(38,2)=703 exact, C(8,2)=28 capped
    assert n_exact["const"] == 703
    assert n_capped["const"] == 28
    # normal doc unaffected by the cap
    assert n_exact["normal"] == n_capped["normal"]
    norm_rows = lambda d: sorted(
        (r.q_start, r.db_start) for r in d.filter(F.col("doc_id") == "normal").collect()
    )
    assert norm_rows(exact) == norm_rows(capped)
