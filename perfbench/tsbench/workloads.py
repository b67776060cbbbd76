"""The four workloads.

Each workload makes its inputs at rest in ``setup`` (untimed), runs one
round of its fixed unit of work per ``round`` call, and checks every
output against independent expectations in ``check`` (untimed).  Ops are
timed one by one; an op that raises, or whose output check fails,
counts as failed.

In a traced run every other op is traced, so the run also yields the
tracing overhead, and each workload reports the per-layer metrics of the
modules it exercises from its spans (``layer_metrics``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np

from . import inputs, oracles
from .runtime import force
from .shapes import TIERS, tier_frame, tier_frames

ROW_COLUMNS = oracles.ROW_COLUMNS


def _median(values):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else None


def _rows(df):
    """The seven tier-row columns with canonical types."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("doc_id").cast("string"),
        *[F.col(c).cast("long") for c in ROW_COLUMNS[1:]],
    )


def _symmetric_diff(a, b) -> int:
    """Rows in one DataFrame and not the other, duplicates counted
    (``exceptAll`` both ways), compared on the driver: the checked
    outputs are small, and two collects beat four shuffles."""
    if a.columns != b.columns:
        raise ValueError(f"column mismatch {a.columns} != {b.columns}")

    def rows(df) -> Counter:
        freeze = lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v  # noqa: E731
        return Counter(tuple(map(freeze, r)) for r in df.toPandas().itertuples(index=False))

    ca, cb = rows(a), rows(b)
    return sum(((ca - cb) + (cb - ca)).values())


def _tier_total_exprs():
    """Observed per tier: windows, Σagg_count, Σagg_sum."""
    from pyspark.sql import functions as F

    exprs = []
    for t in TIERS:
        is_t = F.col("tier") == t
        exprs += [
            F.count(F.when(is_t, 1)).alias(f"w{t}"),
            F.sum(F.when(is_t, F.col("agg_count"))).alias(f"c{t}"),
            F.sum(F.when(is_t, F.col("agg_sum"))).alias(f"s{t}"),
        ]
    return exprs


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _listing(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _datasets_with(base: str, columns: set[str]) -> list[str]:
    """Leaf dirs under ``base`` whose parquet files carry ``columns``:
    outputs located by schema, not by the program's path layout."""
    import pyarrow.parquet as pq

    found = []
    for root, _dirs, files in os.walk(base):
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts and columns <= set(pq.read_schema(os.path.join(root, parts[0])).names):
            found.append(root)
    return sorted(found)


class Workload:
    """Shared op bookkeeping; subclasses define setup/round/check."""

    name = ""
    SIZES: dict[str, dict] = {}
    # a round's time on the 4-core reference host: ``--seconds`` buys
    # ``seconds / NOMINAL_ROUND_S`` rounds, a fixed amount of work, so
    # every run of a workload does the same work whatever its speed
    NOMINAL_ROUND_S = 1.0

    def __init__(self, spark, work, seed, tracer, stream=None, scale="full", trace=False,
                 seconds=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.stream = stream
        self.scale = scale
        self.trace = trace
        self.size = self.SIZES[scale]
        self.root = os.path.join(work, f"{self.name}-{scale}")
        os.makedirs(self.root, exist_ok=True)
        self.n_rounds = 1 if seconds is None else max(1, round(seconds / self.NOMINAL_ROUND_S))
        self.ops: list[dict] = []
        self.rounds = 0
        self.record: dict = {}

    def phase(self, name: str) -> None:
        """Note when a set-up or check step ended (for the full record)."""
        self.record.setdefault("phases", []).append((name, time.perf_counter()))

    def path(self, *parts) -> str:
        return os.path.join(self.root, *parts)

    def op(self, fn, points: int, **attrs):
        """Run and time one op.  A traced run traces every odd op of its
        workload (the even ones give the overhead baseline) and every op
        of a probe."""
        traced = self.trace and (self.scale == "probe" or len(self.ops) % 2 == 1)
        op = {"id": len(self.ops), "round": self.rounds, "points": points,
              "traced": traced, "failed": False, **attrs}
        self.ops.append(op)
        tr = self.tracer
        tr.op_id, tr.scope, tr.active = op["id"], self.name, op["traced"]
        result = None
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{self.name}"):
                result = fn(op)
        except Exception as exc:  # noqa: BLE001 — an op failure is a result
            self.fail(op, f"raised {type(exc).__name__}: {exc}")
        op["latency_s"] = time.perf_counter() - t0
        tr.op_id, tr.active = None, self.trace
        return op, result

    def fail(self, op: dict, reason: str) -> None:
        op["failed"] = True
        op.setdefault("reasons", []).append(reason[:500])

    def fail_all(self, ops, reason: str) -> None:
        for op in ops:
            self.fail(op, reason)

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.tracer.named(name) if s.get("scope") == self.name]

    def span_median(self, name: str, field: str | None = None):
        spans = self.spans(name)
        if field is None:
            return _median([s["dur_s"] for s in spans])
        return _median([s.get("spark", {}).get(field) for s in spans])

    def op_counters(self, field: str):
        return _median([s.get("spark", {}).get(field) for s in self.spans(f"op.{self.name}")])

    def layer_call(self, name: str, fn):
        """A traced-only forced call into one module, outside any op."""
        tr = self.tracer
        tr.scope, tr.active = self.name, True
        with tr.span(name) as rec:
            rec["result"] = fn()

    def points_done(self) -> int:
        """Input points of the ops that succeeded."""
        return sum(o["points"] for o in self.ops if not o["failed"])


class RollupScan(Workload):
    """One op = one ``tiered_rollups`` pass over the at-rest corpus with
    every tier sunk to ``noop``."""

    name = "rollup_scan"
    NOMINAL_ROUND_S = 2.0
    WARM_PASSES = 3
    SIZES = {"full": {"docs": 40_000, "sample": 1000}, "probe": {"docs": 4000, "sample": 300}}

    def setup(self):
        self.corpus = self.path("corpus")
        inputs.write_corpus(self.spark, self.corpus, self.size["docs"], self.seed)
        self.phase("corpus")
        self.expected = oracles.parquet_tier_totals(self.corpus)
        self.points = self.expected[0][1]
        self.phase("expected")
        if self.scale == "full":
            # warm-up: the first passes pay JIT and Python-worker start
            with self.tracer.paused():
                for _ in range(self.WARM_PASSES):
                    self._pass()
            self.phase("warm")

    def _pass(self, observe: bool = False) -> dict:
        """One pass; with ``observe``, also collect each tier's totals in
        the same pass (the check pass, outside the timed ops)."""
        from pyspark.sql import Observation

        from tsc_spark.operators.rollup import tiered_rollups
        from tsc_spark.sources.tokens import read_tokens

        frames = tier_frames(tiered_rollups(read_tokens(self.spark, self.corpus)))
        seen = {f"{k}{t}": 0 for t in TIERS for k in "wcs"}
        for i, frame in enumerate(frames):
            name = f"rollup.tier{i}" if len(frames) == len(TIERS) else "rollup.all_tiers"
            with self.tracer.span(name):
                if observe:
                    obs = Observation()
                    force(frame.observe(obs, *_tier_total_exprs()))
                    for k, v in obs.get.items():
                        seen[k] += int(v or 0)
                else:
                    force(frame)
        return {"totals": seen, "single_frame": len(frames) == 1}

    def round(self):
        op, out = self.op(lambda op: self._pass(), self.points)
        if out is not None and op["traced"]:
            self._layer_calls(out["single_frame"])
        self.rounds += 1

    def _layer_calls(self, single_frame: bool):
        from tsc_spark.operators.rollup import tiered_rollups
        from tsc_spark.sources.tokens import read_tokens

        self.layer_call("sources.read_tokens",
                        lambda: force(read_tokens(self.spark, self.corpus)))
        if single_frame:  # tiers come out of one pass: time each alone
            result = tiered_rollups(read_tokens(self.spark, self.corpus))
            for t in TIERS:
                self.layer_call(f"rollup.tier{t}", lambda t=t: force(tier_frame(result, t)))

    def check(self):
        from pyspark.sql import functions as F

        from tsc_spark.operators.rollup import explode_points, rollup_points, tiered_rollups
        from tsc_spark.sources.tokens import read_tokens

        # every op ran the same plan over the same input: one observed
        # pass checks the totals they all produced
        totals = self._pass(observe=True)["totals"]
        for t in TIERS:
            got = tuple(totals[f"{k}{t}"] for k in "wcs")
            if got != self.expected[t]:
                self.fail_all(self.ops, f"tier {t} (windows, Σcount, Σsum) {got} != {self.expected[t]}")
        rng = np.random.default_rng([self.seed, 1])
        ids = [f"doc{i:08d}" for i in rng.choice(self.size["docs"], self.size["sample"], replace=False)]
        # rows are per-doc, so rolling up the sample alone yields exactly
        # the sample's rows of the full pass
        sample = read_tokens(self.spark, self.corpus).filter(F.col("doc_id").isin(ids))
        sample = sample.localCheckpoint()
        self.phase("check_totals")
        result = tiered_rollups(sample)
        points = explode_points(sample)
        got = want = None
        for t, stride in oracles.STRIDES.items():
            g = _rows(tier_frame(result, t))
            w = _rows(rollup_points(points, stride, t))
            got, want = (g, w) if got is None else (got.unionByName(g), want.unionByName(w))
        diff = _symmetric_diff(got, want)
        if diff:
            self.fail_all(self.ops, f"{diff} rows differ from the rollup_points oracle on the sample")
        self.record["oracle_sample_docs"] = len(ids)
        self.phase("check")

    def layer_metrics(self) -> dict:
        m = {
            "sources.read_tokens_s": self.span_median("sources.read_tokens"),
            "sources.scan_bytes": self.span_median("sources.read_tokens", "scan_bytes"),
        }
        for t in TIERS:
            m[f"rollup.tier{t}_s"] = self.span_median(f"rollup.tier{t}")
        per_point = lambda f: (  # noqa: E731
            None if self.op_counters(f) is None else self.op_counters(f) / self.points
        )
        m["rollup.scans_per_pass"] = self.op_counters("parquet_scans")
        m["rollup.py_bytes_in_per_point"] = per_point("py_bytes_in")
        m["rollup.py_bytes_out_per_point"] = per_point("py_bytes_out")
        for key, field in (("rollup.py_run_s", "py_run_ms"), ("rollup.py_init_s", "py_init_ms")):
            v = self.op_counters(field)
            m[key] = None if v is None else v / 1000.0
        m["rollup.task_max_over_median"] = self.op_counters("task_max_over_median")
        return m


class PipelineIngest(Workload):
    """A round: ``ingest`` into buckets; one op per bucket =
    ``run_pipeline(buckets=[b])`` with timeline and encoded output; then
    ``apply_retention`` per bucket; then a resume that must skip every
    bucket."""

    name = "pipeline_ingest"
    NOMINAL_ROUND_S = 25.0
    SIZES = {
        "full": {"docs": 900, "buckets": 3, "timeline_sample": 8},
        "probe": {"docs": 130, "buckets": 1, "timeline_sample": 3},
    }

    def setup(self):
        from tsc_spark.plans.pipeline import ingest, run_pipeline
        from tsc_spark.sources.tokens import read_tokens

        self.corpus = self.path("corpus")
        inputs.write_corpus(self.spark, self.corpus, self.size["docs"], self.seed)
        self.docs = inputs.collect_docs(self.spark, self.corpus)
        self.points = sum(len(t) for _, t in self.docs)
        self.bases = []
        if self.scale == "full":  # warm-up on a tiny separate corpus
            tiny, base = self.path("warm_corpus"), self.path("warm_base")
            inputs.write_corpus(self.spark, tiny, 32, self.seed + 1)
            ingest(self.spark, read_tokens(self.spark, tiny), base, 1)
            run_pipeline(self.spark, base)

    def round(self):
        from tsc_spark.operators.retention import apply_retention
        from tsc_spark.plans.pipeline import ingest, run_pipeline
        from tsc_spark.sources.tokens import read_tokens

        spark, n_buckets = self.spark, self.size["buckets"]
        base = self.path(f"base{self.rounds}")
        rnd = {"base": base, "ops": []}
        self.bases.append(rnd)
        tr = self.tracer
        tr.scope = self.name
        with tr.span("pipeline.ingest"):
            ingest(spark, read_tokens(spark, self.corpus), base, n_buckets)
        for b in range(n_buckets):
            op, manifests = self.op(
                lambda op, b=b: run_pipeline(spark, base, buckets=[b]), 0, bucket=b
            )
            if manifests is not None:
                op["points"] = sum(int(m["points"]) for m in manifests)
                op["manifests"] = len(manifests)
            rnd["ops"].append(op)
        tr.scope = self.name
        for b in range(n_buckets):
            with tr.span("retention.apply", bucket=b):
                apply_retention(spark, base, policy=oracles.RETENTION_POLICY, buckets=[b])
        before = _listing(base)
        with tr.span("pipeline.resume"):
            rnd["resume_manifests"] = len(run_pipeline(spark, base))
        after = _listing(base)
        rnd["resume_changed"] = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
        rnd["stored_bytes"] = _dir_bytes(base)
        rnd["bytes_by_output"] = {
            d: _dir_bytes(os.path.join(base, d))
            for d in sorted(os.listdir(base)) if os.path.isdir(os.path.join(base, d))
        }
        if self.trace:
            self._layer_calls()
        self.rounds += 1

    def _layer_calls(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from tsc_spark.functions.codec_udfs import encode_tokens_table
        from tsc_spark.operators.clustering import cluster_timeline
        from tsc_spark.sources.tokens import read_tokens

        src = read_tokens(self.spark, self.corpus)
        self.layer_call("clustering.cluster_timeline", lambda: force(cluster_timeline(src)))

        def encode():
            obs = Observation()
            force(encode_tokens_table(src).observe(
                obs, F.sum(F.length("encoded")).alias("bytes"), F.sum("n_tok").alias("points")))
            return obs.get

        self.layer_call("codecs.encode_tokens_table", encode)

    def check(self):
        for rnd in self.bases:
            self._check_round(rnd)

    def _check_round(self, rnd):
        from pyspark.sql import functions as F

        from tsc_spark.functions.codec_udfs import decode_tokens_table
        from tsc_spark.kernel.api import analyse_tokens
        from tsc_spark.plans.pipeline import pipeline_metrics, read_tier

        spark, base, ops = self.spark, rnd["base"], rnd["ops"]
        by_bucket = {op["bucket"]: op for op in ops}
        # manifests, read only through pipeline_metrics
        manifests = {int(m["bucket"]): m for m in pipeline_metrics(base)}
        for b, op in by_bucket.items():
            m = manifests.get(b)
            if m is None:
                self.fail(op, f"no manifest for bucket {b}")
                continue
            missing = {"rollup", "timeline", "encoded"} - set(m.get("outputs", []))
            if missing:
                self.fail(op, f"bucket {b} manifest lacks outputs {sorted(missing)}")
            if not m.get("retention"):
                self.fail(op, f"bucket {b} manifest has no retention record")
        docs = sum(int(m["docs"]) for m in manifests.values())
        points = sum(int(m["points"]) for m in manifests.values())
        if (docs, points) != (len(self.docs), self.points):
            self.fail_all(ops, f"manifests hold {docs} docs/{points} points, "
                               f"corpus has {len(self.docs)}/{self.points}")
        max_n = max(len(t) for _, t in self.docs)
        for t, s in oracles.STRIDES.items():
            wm = max(int(m["watermarks"][f"tier{t}_max_window_idx"]) for m in manifests.values())
            if wm != -(-max_n // s) - 1:
                self.fail_all(ops, f"tier {t} watermark {wm} != {-(-max_n // s) - 1}")
        # tier rows after retention, read only through read_tier
        got = _rows(read_tier(spark, base, 0))
        for t in TIERS[1:]:
            got = got.unionByName(_rows(read_tier(spark, base, t)))
        want = spark.createDataFrame(oracles.tier_rows(self.docs, keep=oracles.RETENTION_POLICY))
        diff = _symmetric_diff(got, _rows(want))
        if diff:
            self.fail_all(ops, f"{diff} tier rows differ from the retention-applied oracle")
        # timeline and encoded outputs, located by schema
        timeline_dirs = _datasets_with(base, {"doc_id", "window_size", "cluster_id", "indices"})
        rng = np.random.default_rng([self.seed, 2])
        longtail = [d for d in self.docs if len(d[1]) >= 512]
        picks = [self.docs[i] for i in rng.choice(len(self.docs), self.size["timeline_sample"], replace=False)]
        picks += longtail[:2]
        sample = {d: t for d, t in picks}
        if not timeline_dirs:
            self.fail_all(ops, "no timeline output found")
        else:
            rows = (spark.read.parquet(*timeline_dirs)
                    .filter(F.col("doc_id").isin(list(sample))).collect())
            got_tl = {d: set() for d in sample}
            for r in rows:
                got_tl[r["doc_id"]].add((int(r["window_size"]), str(r["cluster_id"]), tuple(r["indices"])))
            for d, toks in sample.items():
                want_tl = {(ws, cid, tuple(ix)) for ws, cid, ix in analyse_tokens(toks).timeline()}
                if got_tl[d] != want_tl:
                    self.fail_all(ops, f"timeline of {d} differs from analyse_tokens")
                    break
        self.record["timeline_checked_docs"] = len(sample)
        encoded_dirs = _datasets_with(base, {"doc_id", "encoded"})
        if not encoded_dirs:
            self.fail_all(ops, "no encoded output found")
        else:
            decoded = decode_tokens_table(spark.read.parquet(*encoded_dirs)).select("doc_id", "tokens")
            corpus = spark.read.parquet(self.corpus).select("doc_id", "tokens")
            diff = _symmetric_diff(decoded, corpus)
            if diff:
                self.fail_all(ops, f"decode_tokens_table round trip differs on {diff} rows")
        if rnd["resume_manifests"] or rnd["resume_changed"]:
            self.fail_all(ops, f"resume wrote {rnd['resume_manifests']} manifests, "
                               f"changed {rnd['resume_changed'][:5]}")

    def stored_bytes_per_point(self):
        return _median([r["stored_bytes"] / self.points for r in self.bases])

    def layer_metrics(self) -> dict:
        enc = [s["result"] for s in self.spans("codecs.encode_tokens_table")]
        m = {
            "clustering.cluster_timeline_s": self.span_median("clustering.cluster_timeline"),
            "clustering.task_max_over_median": self.span_median(
                "clustering.cluster_timeline", "task_max_over_median"),
            "codecs.encode_tokens_table_s": self.span_median("codecs.encode_tokens_table"),
            "codecs.encoded_bytes_per_point": _median(
                [e["bytes"] / e["points"] for e in enc if e and e.get("points")]),
            "pipeline.ingest_s": self.span_median("pipeline.ingest"),
            "pipeline.jobs_per_bucket": self.op_counters("jobs"),
            "pipeline.resume_s": self.span_median("pipeline.resume"),
            "pipeline.stored_bytes_per_point": self.stored_bytes_per_point(),
            # per apply_retention call, i.e. per bucket
            "retention.apply_s": self.span_median("retention.apply"),
            "retention.jobs_per_bucket": self.span_median("retention.apply", "jobs"),
            "retention.bytes_rewritten": self.span_median("retention.apply", "written_bytes"),
        }
        if self.bases:
            for d, n in self.bases[-1]["bytes_by_output"].items():
                m[f"pipeline.bytes_per_point.{d.strip('_')}"] = n / self.points
        return m


class StreamRefresh(Workload):
    """The client appends one parquet file to the source dir (untimed);
    one op = the ``run_rollup_stream(tier=1)`` refresh that follows."""

    name = "stream_refresh"
    NOMINAL_ROUND_S = 0.7
    WARM_REFRESHES = 6  # refresh latency falls over the first few (JIT)
    SIZES = {"full": {"docs_per_file": 2000}, "probe": {"docs_per_file": 300}}

    def setup(self):
        from pyspark.sql import functions as F

        spark = self.spark
        self.staging = self.path("staging")
        warm = self.WARM_REFRESHES if self.scale == "full" else 1
        files = self.n_rounds + warm  # one per refresh, timed or warm-up
        inputs.write_corpus(spark, self.staging, files * self.size["docs_per_file"],
                            self.seed, files=files)
        self.phase("files")
        self.files = sorted(f for f in os.listdir(self.staging) if f.endswith(".parquet"))
        self.mapping = spark.read.parquet(self.staging).select(
            "doc_id", F.col("_metadata.file_name").alias("file"))
        self.expected = {
            f: oracles.parquet_tier_totals(os.path.join(self.staging, f))[1] for f in self.files
        }
        self.phase("expected")
        self.src, self.sink, self.ckpt = self.path("src"), self.path("sink"), self.path("ckpt")
        os.makedirs(self.src)
        self.appended = []
        for _ in range(warm):  # the first refreshes pay query start-up and JIT
            self._append()
            self._refresh()
        self.phase("warm")

    def _append(self) -> str:
        f = self.files[len(self.appended)]
        tmp = os.path.join(self.src, "." + f)  # hidden until renamed in
        shutil.copyfile(os.path.join(self.staging, f), tmp)
        os.rename(tmp, os.path.join(self.src, f))
        self.appended.append(f)
        return f

    def _refresh(self):
        from tsc_spark.streaming.rollup_stream import run_rollup_stream

        run_rollup_stream(self.spark, self.src, self.sink, self.ckpt, tier=1)

    def round(self):
        f = self._append()
        mark = self.stream.mark() if self.stream is not None else None
        op, _ = self.op(lambda op: self._refresh(), self.expected[f][1], file=f,
                        source_files=len(self.appended))
        if op["traced"] and mark is not None:
            try:
                op["batches"] = self.stream.batches_since(mark)
            except TimeoutError as exc:
                op["batches_dropped"] = str(exc)
        self.rounds += 1

    def check(self):
        from pyspark.sql import functions as F

        from tsc_spark.operators.rollup import explode_points, rollup_points
        from tsc_spark.sources.tokens import read_tokens

        spark = self.spark
        sink = spark.read.parquet(self.sink)
        per_file = {
            r["file"]: (int(r["w"]), int(r["c"]), int(r["s"]))
            for r in sink.join(self.mapping, "doc_id", "left")
            .groupBy("file")
            .agg(F.count("*").alias("w"), F.sum("agg_count").alias("c"), F.sum("agg_sum").alias("s"))
            .collect()
        }
        by_file = {op["file"]: op for op in self.ops}
        for f in self.appended:
            if per_file.get(f) != self.expected[f]:
                reason = f"sink windows of {f}: {per_file.get(f)} != {self.expected[f]}"
                if f in by_file:
                    self.fail(by_file[f], reason)
                else:  # a set-up file: every later refresh reads its sink
                    self.fail_all(self.ops, reason)
        stray = set(per_file) - set(self.appended)
        if stray:
            self.fail_all(self.ops, f"sink holds windows of unappended files {sorted(stray)[:3]}")
        self.phase("check_counts")
        # row-level oracle on the last appended file
        for f in self.appended[-1:]:
            src = read_tokens(spark, os.path.join(self.staging, f))
            ids = src.select("doc_id")
            got = _rows(sink.join(ids, "doc_id", "left_semi"))
            want = _rows(rollup_points(explode_points(src), 8, 1))
            diff = _symmetric_diff(got, want)
            if diff and f in by_file:
                self.fail(by_file[f], f"{diff} sink rows of {f} differ from the rollup_points oracle")
            elif diff:
                self.fail_all(self.ops, f"{diff} sink rows of {f} differ from the oracle")
        self.phase("check_rows")

    def layer_metrics(self) -> dict:
        traced = [op for op in self.ops if op.get("batches")]
        total = lambda op, k: sum(b.get(k, 0) for b in op["batches"])  # noqa: E731
        m = {}
        for key, field in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                           ("latest_offset_ms", "latestOffset"), ("wal_commit_ms", "walCommit"),
                           ("query_planning_ms", "queryPlanning")):
            m[f"streaming.{key}"] = _median([total(op, field) for op in traced])
        m["streaming.outside_trigger_s"] = _median(
            [op["latency_s"] - total(op, "triggerExecution") / 1000.0 for op in traced])
        m["streaming.source_files"] = _median([op["source_files"] for op in traced])
        return m


class QueryMix(Workload):
    """One op = one round, in fixed order, of the query operators:
    matching, sparse roll-up + gap-fill, retention sweep, MinHash → LSH →
    dedup components, exact and LSH top-k."""

    name = "query_mix"
    NOMINAL_ROUND_S = 8.0
    SIZES = {
        "full": {"token_docs": 240, "text_docs": 400, "dup_groups": 12, "vecs": 3000, "dim": 32},
        "probe": {"token_docs": 60, "text_docs": 80, "dup_groups": 3, "vecs": 400, "dim": 16},
    }
    QUERY_LEN = 8
    KEEP = 4

    def setup(self):
        spark, size = self.spark, self.size
        rng = np.random.default_rng([self.seed, 4])
        raw = self.path("raw_tokens")
        inputs.write_corpus(spark, raw, size["token_docs"], self.seed)
        docs, self.query, self.hosts = inputs.plant_query(
            inputs.collect_docs(spark, raw), rng, self.QUERY_LEN, 4)
        self.tokens = self.path("tokens")
        inputs.docs_frame(spark, docs).write.parquet(self.tokens)
        pts = inputs.sparse_points(docs, rng, 0.15)
        self.points_path = self.path("points")
        spark.createDataFrame(pts, "doc_id string, point_index int, token int").write.parquet(
            self.points_path)
        tier1 = oracles.tier_rows(docs, tiers=(1,))
        self.tier_path = self.path("tier1")
        spark.createDataFrame(tier1).write.parquet(self.tier_path)
        text, self.dup_groups = inputs.texts(rng, size["text_docs"], 24, size["dup_groups"], 2)
        self.text_path = self.path("texts")
        spark.createDataFrame(text, "doc_id string, text string").write.parquet(self.text_path)
        m, ids, self.qvec, self.planted = inputs.embeddings(rng, size["vecs"], size["dim"], 5)
        self.emb_path = self.path("emb")
        inputs.embeddings_frame(spark, m, ids).write.parquet(self.emb_path)
        self.n_text = len(text)
        # independent expectations
        self.want = {
            "ewm": {ws: oracles.exact_window_pairs(docs, ws) for ws in (3, 4)},
            "gapfill": oracles.sparse_gapfill(pts, {d: len(t) for d, t in docs}, 8),
            "retention": oracles.keep_last(tier1, self.KEEP),
            "topk": oracles.cosine_topk(m.astype(np.float64), ids, self.qvec.astype(np.float64), 10),
        }
        self.points = sum(len(t) for _, t in docs) + len(pts) + len(tier1)
        if self.scale == "full":
            with self.tracer.paused():  # warm-up round, unrecorded
                self._round_body(None)

    def _round_body(self, op):
        from pyspark.sql import functions as F

        from tsc_spark.operators.dedup import dedup_components, lsh_candidate_pairs, minhash_signatures
        from tsc_spark.operators.matching import exact_window_matches, query_matches
        from tsc_spark.operators.retention import retention_sweep
        from tsc_spark.operators.rollup import gapfill, rollup_points
        from tsc_spark.operators.similarity import ann_topk_lsh, cosine_topk
        from tsc_spark.sources.tokens import read_tokens

        spark, span, out = self.spark, self.tracer.span, {}
        tokens = read_tokens(spark, self.tokens)
        with span("matching.query_matches"):
            r = query_matches(spark, tokens, self.query).agg(
                F.count("*").alias("n"),
                F.sum(F.col("q_start") * 7 + F.col("db_start") * 13 + F.col("window_size")).alias("ck"),
                F.sort_array(F.collect_set("doc_id")).alias("docs"),
            ).collect()[0]
            out["qm"] = (int(r["n"]), int(r["ck"] or 0), tuple(r["docs"]))
        with span("matching.exact_window_matches"):
            rows = exact_window_matches(tokens).groupBy("window_size").agg(
                F.count("*").alias("n"), F.sum(F.col("q_start") + F.col("db_start")).alias("ps")
            ).collect()
            out["ewm"] = {int(r["window_size"]): (int(r["n"]), int(r["ps"])) for r in rows}
        with span("rollup.sparse_gapfill"):
            pts = spark.read.parquet(self.points_path)
            r = gapfill(rollup_points(pts, 8, 1), tokens, 8, 1).agg(
                F.count("*").alias("rows"), F.sum(F.col("gapfilled").cast("int")).alias("gapfilled"),
                F.sum("agg_count").alias("agg_count"), F.sum("agg_sum").alias("agg_sum"),
            ).collect()[0]
            out["gapfill"] = {k: int(r[k] or 0) for k in ("rows", "gapfilled", "agg_count", "agg_sum")}
        with span("retention.retention_sweep"):
            r = retention_sweep(spark.read.parquet(self.tier_path), {1: self.KEEP}).agg(
                F.count("*").alias("rows"), F.sum("agg_sum").alias("agg_sum")).collect()[0]
            out["retention"] = {"rows": int(r["rows"]), "agg_sum": int(r["agg_sum"] or 0)}
        text = spark.read.parquet(self.text_path)
        with span("dedup.minhash_signatures"):
            r = minhash_signatures(text).agg(
                F.count("*").alias("n"), F.sum("mh0").alias("ck")).collect()[0]
            out["minhash"] = (int(r["n"]), int(r["ck"]))
        with span("dedup.lsh_candidate_pairs"):
            pairs = sorted((r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(text).collect())
            out["pairs"] = tuple(pairs)
        pairs_df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
        with span("dedup.dedup_components"):
            comps = dedup_components(pairs_df).collect()
            out["components"] = tuple(sorted((r["doc_id"], r["component"]) for r in comps))
        emb = spark.read.parquet(self.emb_path)
        q = [float(v) for v in self.qvec]
        with span("similarity.cosine_topk"):
            out["topk"] = [int(r["vec_id"]) for r in cosine_topk(emb, q, 10).collect()]
        with span("similarity.ann_topk_lsh"):
            out["ann"] = [int(r["vec_id"]) for r in ann_topk_lsh(emb, q, self.size["dim"], 10).collect()]
        return out

    def round(self):
        op, out = self.op(self._round_body, self.points)
        if out is not None:
            op["out"] = out
            if op["traced"]:
                self._layer_calls()
        self.rounds += 1

    def _layer_calls(self):
        from pyspark.sql import functions as F

        from tsc_spark.operators import similarity

        probe_set = getattr(similarity, "lsh_probe_set", None)
        if probe_set is None:
            return
        emb = self.spark.read.parquet(self.emb_path)
        dim = self.size["dim"]

        def scan_frac():
            probes = probe_set([float(v) for v in self.qvec], dim)
            cand = similarity.hyperplane_buckets(emb, dim).filter(F.col("bucket").isin(probes))
            return cand.count() / self.size["vecs"]

        self.layer_call("similarity.ann_scan", scan_frac)

    def check(self):
        first = None
        for op in self.ops:
            if op["failed"]:
                continue
            out = op["out"]
            missing = set(self.hosts) - set(out["qm"][2])
            if missing:
                self.fail(op, f"query_matches missed planted hosts {sorted(missing)}")
            if out["ewm"] != self.want["ewm"]:
                self.fail(op, f"exact_window_matches {out['ewm']} != {self.want['ewm']}")
            if out["gapfill"] != self.want["gapfill"]:
                self.fail(op, f"gapfill {out['gapfill']} != {self.want['gapfill']}")
            if out["retention"] != self.want["retention"]:
                self.fail(op, f"retention_sweep {out['retention']} != {self.want['retention']}")
            if out["minhash"][0] != self.n_text:
                self.fail(op, f"minhash_signatures has {out['minhash'][0]} docs, want {self.n_text}")
            pairs, comp = set(out["pairs"]), dict(out["components"])
            for group in self.dup_groups:
                want_pairs = {(a, b) for i, a in enumerate(group) for b in group[i + 1:]}
                if not want_pairs <= pairs:
                    self.fail(op, f"lsh_candidate_pairs missed planted pairs of {group}")
                if {comp.get(d) for d in group} != {group[0]}:
                    self.fail(op, f"dedup_components split planted group {group}")
            if set(out["topk"]) != set(self.want["topk"]):
                self.fail(op, f"cosine_topk {out['topk']} != exact {self.want['topk']}")
            if not set(self.planted) <= set(out["ann"]):
                self.fail(op, f"ann_topk_lsh missed planted neighbours {self.planted}")
            stable = {k: out[k] for k in ("qm", "minhash", "pairs", "components")}
            if first is None:
                first = stable
            elif stable != first:
                self.fail(op, "results differ from the first round")

    def layer_metrics(self) -> dict:
        m = {}
        for name in ("matching.query_matches", "matching.exact_window_matches",
                     "rollup.sparse_gapfill", "retention.retention_sweep",
                     "dedup.minhash_signatures", "dedup.lsh_candidate_pairs",
                     "dedup.dedup_components", "similarity.cosine_topk", "similarity.ann_topk_lsh"):
            m[f"{name}_s"] = self.span_median(name)
        traced = [op["out"] for op in self.ops if op["traced"] and "out" in op]
        m["similarity.ann_recall_at_10"] = _median(
            [len(set(o["ann"]) & set(self.want["topk"])) / 10.0 for o in traced])
        m["similarity.ann_scan_frac"] = _median([s["result"] for s in self.spans("similarity.ann_scan")])
        return m


WORKLOADS = {w.name: w for w in (RollupScan, PipelineIngest, StreamRefresh, QueryMix)}


def kernel_sample(repeats: int = 3) -> dict:
    """``analyse_tokens`` driver-side, single thread, on a fixed sample of
    64 docs (one of them a 512-token long-tail doc): µs per point."""
    from tsc_spark.kernel.api import analyse_tokens
    from tsc_spark.sources.synth import synth_tokens

    sample = [toks for _, toks, _ in synth_tokens(64, include_edges=False, seed=0)]
    points = sum(len(t) for t in sample)
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for toks in sample:
            analyse_tokens(toks)
        times.append(time.perf_counter() - t0)
    return {"docs": len(sample), "points": points, "seconds": times,
            "us_per_point": statistics.median(times) / points * 1e6}
