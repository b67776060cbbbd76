"""Metric computation and the final result line."""

from __future__ import annotations

import json
import math
import os
import statistics

from .runtime import CHECKOUT_ROOT, PERFBENCH_DIR

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "points_per_s": "points/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "stored_bytes_per_point": "bytes/point",
    "peak_rss_mb": "MiB",
}


def load_spec() -> dict:
    with open(os.path.join(CHECKOUT_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def layer_units() -> dict[str, str]:
    """Per-layer metric → unit, from the layer map in layers.json."""
    with open(os.path.join(PERFBENCH_DIR, "layers.json")) as f:
        layers = json.load(f)["layers"]
    units = {}
    for layer in layers.values():
        units.update(layer["metrics"])
    return units


def _latencies(ops) -> list[float]:
    """Op latencies, a failed op counting as missing any latency limit."""
    return sorted(math.inf if op["failed"] else op["latency_s"] for op in ops)


def tail(latencies: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 11:
        return {"dropped": f"{n} ops: a tail needs at least 11"}
    return {"value": latencies[n - 11], "percentile": 100.0 * (n - 10) / n, "samples": n}


def end_to_end_metrics(wl, setup_s: float, wall_s: float, rss_mb: float | None) -> dict:
    lat = _latencies(wl.ops)
    p50 = statistics.median(lat)
    m = {
        "setup_s": {"value": setup_s},
        "wall_s": {"value": wall_s},
        "points_per_s": {"value": wl.points_done() / wall_s, "points": wl.points_done()},
        "op_p50_s": ({"value": p50, "samples": len(lat)} if math.isfinite(p50)
                     else {"dropped": "most ops failed"}),
        "op_tail_s": tail(lat),
        "peak_rss_mb": {"value": rss_mb} if rss_mb is not None else {"dropped": "no /proc VmHWM"},
    }
    if hasattr(wl, "stored_bytes_per_point"):
        m["stored_bytes_per_point"] = {"value": wl.stored_bytes_per_point()}
    for name, rec in m.items():
        rec["unit"] = E2E_UNITS[name]
    return m


def layer_metrics(wl, probes, tracer, kernel: dict) -> dict:
    """Every per-layer metric, each tagged with the workload it came
    from: the run's own workload where it exercises the layer, else a
    probe-sized instance of the workload that does."""
    tracer.self_times()
    units = layer_units()
    out: dict[str, dict] = {}

    def put(name, value, basis):
        if name in out and "value" in out[name]:
            return
        unit = units.get(name) or units.get(name.rsplit(".", 1)[0] + ".<output>", "")
        if value is None:
            out[name] = {"dropped": f"no samples in {basis}", "unit": unit}
        else:
            out[name] = {"value": value, "unit": unit, "basis": basis}

    for name, value in wl.layer_metrics().items():
        put(name, value, wl.name)
    for p in probes:
        for name, value in p.layer_metrics().items():
            put(name, value, f"probe:{p.name}")
    put("kernel.analyse_tokens_us_per_point", kernel["us_per_point"], "driver sample")
    put("spark.jobs_per_op", wl.op_counters("jobs"), wl.name)
    put("spark.shuffle_bytes_per_op", wl.op_counters("shuffle_bytes"), wl.name)
    traced = [op["latency_s"] for op in wl.ops if op["traced"] and not op["failed"]]
    plain = [op["latency_s"] for op in wl.ops if not op["traced"] and not op["failed"]]
    if traced and plain:
        over = statistics.median(traced) - statistics.median(plain)
        out["trace.overhead_s"] = {"value": over, "unit": "s", "basis": wl.name,
                                   "traced_ops": len(traced), "untraced_ops": len(plain)}
        out["trace.overhead_frac"] = {"value": over / statistics.median(plain), "unit": "ratio",
                                      "basis": wl.name}
    else:
        out["trace.overhead_s"] = {"dropped": "needs both traced and untraced ops", "unit": "s"}
    for name, unit in units.items():
        if "<" not in name and name not in out:
            out[name] = {"dropped": "no workload or probe measured it", "unit": unit}
    return out


def _all_ops(record) -> list[dict]:
    ops = list(record["ops"])
    for probe in record.get("probes", {}).values():
        ops.extend(probe["ops"])
    return ops


def final_line(spec: dict, record: dict) -> dict:
    """The result line: op counts plus the metrics BENCHMARK.json names
    (end-to-end untraced, per-layer traced).  Fields a run could not
    measure are absent here and carry their reason in the full record."""
    ops = _all_ops(record)
    failed = sum(1 for op in ops if op["failed"])
    if record["trace"]:
        source, wanted = record["per_layer"], spec["per_layer"]
    else:
        source, wanted = record["end_to_end"], spec["end_to_end"]
    metrics = {}
    for m in wanted:
        rec = source.get(m["name"], {})
        if "value" in rec:
            metrics[m["name"]] = {"value": rec["value"], "unit": m["unit"]}
    return {"correct": failed == 0 and len(ops) > 0, "attempted": len(ops),
            "failed": failed, "metrics": metrics}
