#!/usr/bin/env python3
"""tokenseries-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload rollup_scan --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on ``local[nproc]`` with one closed-loop
client.  Set-up (session, inputs at rest, warm-up) is untimed; the
workload then runs ``--seconds`` worth of whole rounds (seconds over the
workload's nominal round time on the 4-core reference host, so each run
does the same work); its outputs are checked afterwards.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The full
record (every metric, op, check, span and the host context) is written to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tsbench import runtime  # noqa: E402
from tsbench.report import (  # noqa: E402
    end_to_end_metrics,
    final_line,
    layer_metrics,
    load_spec,
)


def _since_process_start() -> float:
    """Seconds since this process started (Linux /proc clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _phase_durations(marks, t0) -> dict:
    """(name, perf_counter) marks → seconds each step took."""
    out, prev = {}, t0
    for name, t in marks:
        out[name] = t - prev
        prev = t
    return out


def parse_args(argv):
    from tsbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(args) -> dict:
    from tsbench.tracing import StreamProgress, Tracer
    from tsbench.workloads import WORKLOADS, kernel_sample

    trace = bool(args.trace)
    work = runtime.make_work_dir(args.workload)
    spark = None
    phases = {}
    try:
        runtime.import_program()
        phases["start"] = _since_process_start()
        spark = runtime.start_spark(work)
        phases["session"] = _since_process_start()
        tracer = Tracer(spark, enabled=trace)
        stream = StreamProgress(spark) if trace else None
        wl = WORKLOADS[args.workload](
            spark, work, args.seed, tracer, stream, "full", trace, args.seconds
        )
        t_setup = time.perf_counter()
        with tracer.paused():
            wl.setup()
        setup_s = _since_process_start()
        phases["setup"] = setup_s

        t0 = time.perf_counter()
        for _ in range(wl.n_rounds):
            wl.round()
        wall_s = time.perf_counter() - t0
        rss = runtime.peak_rss_mb()

        phases["timed"] = _since_process_start()
        with tracer.paused():
            host = runtime.host_context(spark)
            phases["host_probe"] = _since_process_start()
            wl.check()
        phases["check"] = _since_process_start()
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "sizes": wl.size,
            "rounds": wl.rounds,
            "phases_since_process_start_s": phases,
            "end_to_end": end_to_end_metrics(wl, setup_s, wall_s, rss),
            "ops": wl.ops,
            "workload_record": wl.record,
            "workload_phases_s": _phase_durations(wl.record.pop("phases", []), t_setup),
        }
        if trace:
            probes = []
            with tracer.paused():
                record["kernel"] = kernel_sample()
            for name, cls in WORKLOADS.items():
                if name == args.workload:
                    continue
                probe = cls(spark, work, args.seed, tracer, stream, "probe", trace)
                with tracer.paused():
                    probe.setup()
                probe.round()
                with tracer.paused():
                    probe.check()
                probes.append(probe)
            record["probes"] = {
                p.name: {"ops": p.ops, "record": p.record, "sizes": p.size} for p in probes
            }
            phases["probes"] = _since_process_start()
            record["per_layer"] = layer_metrics(wl, probes, tracer, record["kernel"])
            record["spans"] = tracer.spans
            record["dropped_counters"] = tracer.counters.dropped
            stream.close()
        return record
    finally:
        if spark is not None:
            runtime.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        record = run(args)
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    spec = load_spec()
    line = final_line(spec, record)
    os.makedirs(runtime.RESULTS_DIR, exist_ok=True)
    out = os.path.join(
        runtime.RESULTS_DIR,
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json",
    )
    with open(out, "w") as f:
        json.dump(dict(record, final_line=line), f, indent=1, default=str)
    print(f"full record: {os.path.relpath(out, runtime.CHECKOUT_ROOT)}", file=sys.stderr)
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
