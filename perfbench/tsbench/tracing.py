"""Traced-run instrumentation, all from the benchmark's own files.

* ``Tracer`` records spans (name, start, end, parent, op id) around the
  benchmark's calls into the program, keeps them in memory and reports
  self time.  Disabled, it records nothing and reads nothing.
* ``SparkCounters`` reads Spark's SQL metrics after each action from the
  SQL status store (populated with the UI off): data sent to and
  returned from Python workers, Python run/start/init time, scan time
  and bytes, shuffle and write bytes, plus per-stage task run-time
  min/median/max from the app status store.
* ``StreamProgress`` is a ``StreamingQueryListener`` collecting each
  micro-batch's ``durationMs`` breakdown.

A counter that cannot be read drops its own field only: it is left out
of the span's ``spark`` dict and its reason is logged in ``dropped``.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

# SQL metric name → field, summed over every plan node of the actions
SQL_FIELDS = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to start Python workers": "py_start_ms",
    "scan time": "scan_ms",
    "size of files read": "scan_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "written output": "written_bytes",
}

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '11.9 MiB', '635 ms', '2,770,025'
    or the two-line 'total (min, med, max ...)\\n4.2 s (...)' form."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


class SparkCounters:
    """Per-action counters from Spark's own status stores."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 3)
        for i, q in enumerate((0.0, 0.5, 1.0)):
            self._quantiles[i] = q
        self.dropped: dict[str, str] = {}

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(30_000)

    def mark(self) -> int:
        self._drain()
        return int(self._sql.executionsCount())

    def since(self, mark: int) -> dict:
        """Counters summed over the SQL executions (and their jobs) that
        ran after ``mark``; streaming micro-batches are executions too."""
        self._drain()
        execs = self._sql.executionsList(mark, 1_000_000)
        out: dict = {"executions": int(execs.size()), "jobs": 0}
        # a field no plan node carries is zero (no Python UDF, no shuffle)
        sums = {f: 0.0 for f in SQL_FIELDS.values()}
        scans = 0
        stages = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            out["jobs"] += int(ex.jobs().size())
            stages.extend(int(s) for s in _iter(ex.stages()))
            metrics = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for node in _iter(nodes):
                if str(node.name()).startswith("Scan parquet"):
                    scans += 1
                for m in _iter(node.metrics()):
                    field = SQL_FIELDS.get(str(m.name()))
                    if field is None:
                        continue
                    try:
                        sums[field] += self._metric_value(m, metrics)
                    except Exception as exc:  # noqa: BLE001 — drop the field
                        self.dropped[field] = f"{type(exc).__name__}: {exc}"
        for field, total in sums.items():
            if field not in self.dropped:
                out[field] = total
        out["parquet_scans"] = scans
        skew = self._task_skew(stages)
        if skew is not None:
            out.update(skew)
        return out

    def _metric_value(self, m, metrics) -> float:
        acc = self._acc.get(m.accumulatorId())
        if acc.isDefined():
            return float(acc.get().value())
        text = metrics.get(m.accumulatorId())
        if not text.isDefined():
            return 0.0  # the metric never fired (no task updated it)
        return parse_metric_total(str(text.get()))

    def _task_skew(self, stages: list[int]) -> dict | None:
        """max/median task run time of the stage whose slowest task is
        the slowest: the straggler that sets the action's wall time."""
        worst = None
        for sid in stages:
            try:
                dist = self._app.taskSummary(sid, 0, self._quantiles)
            except Exception as exc:  # noqa: BLE001 — drop the field
                self.dropped["task_skew"] = f"{type(exc).__name__}: {exc}"
                return None
            if not dist.isDefined():
                continue
            rt = dist.get().executorRunTime()
            lo, med, hi = (float(rt.apply(i)) for i in range(3))
            if worst is None or hi > worst[2]:
                worst = (lo, med, hi)
        if worst is None:
            return None
        lo, med, hi = worst
        out = {"task_min_ms": lo, "task_med_ms": med, "task_max_ms": hi}
        if med > 0:
            out["task_max_over_median"] = hi / med
        return out


def _iter(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """In-memory spans around the benchmark's calls into the program."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.active = enabled  # off for the untraced ops of a traced run
        self.scope: str | None = None  # the workload the spans belong to
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None
        self.counters = SparkCounters(spark) if (enabled and spark is not None) else None

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; with counters, attach the Spark counters of
        every action it ran.  Reading them is instrumentation: its time
        (``read_s``) is excluded from this span and from its parent's
        self time."""
        if not (self.enabled and self.active):
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "scope": self.scope,
            "op": self.op_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        mark = self.counters.mark() if self.counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counters is not None:
                rec["spark"] = self.counters.since(mark)
            rec["read_s"] = time.perf_counter() - rec["end"]

    @contextmanager
    def paused(self):
        """Record nothing inside the block (warm-ups, checks)."""
        active, self.active = self.active, False
        try:
            yield
        finally:
            self.active = active

    def self_times(self) -> None:
        """Set ``self_s`` on every span: its duration minus the part its
        child spans (and their counter reads) cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = (
                    child_s.get(s["parent"], 0.0) + s["end"] - s["start"] + s["read_s"]
                )
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child_s.get(s["id"], 0.0)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class StreamProgress:
    """Collects streaming progress per query run (traced runs only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        lock = threading.Lock()
        events: list[tuple[str, str, object]] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with lock:
                    events.append(("started", str(event.runId), None))

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    events.append(("progress", str(p.runId), dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with lock:
                    events.append(("terminated", str(event.runId), None))

        self._lock = lock
        self._events = events
        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def mark(self) -> int:
        with self._lock:
            return len(self._events)

    def batches_since(self, mark: int, timeout_s: float = 30.0) -> list[dict]:
        """``durationMs`` of every micro-batch of the query runs that
        started after ``mark``, once each of them has terminated."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                new = self._events[mark:]
            started = {r for k, r, _ in new if k == "started"}
            ended = {r for k, r, _ in new if k == "terminated"}
            if started and started <= ended:
                return [d for k, r, d in new if k == "progress" and r in started]
            if time.monotonic() > deadline:
                raise TimeoutError("streaming listener events did not arrive")
            time.sleep(0.01)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
