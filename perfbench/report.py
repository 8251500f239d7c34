#!/usr/bin/env python3
"""Summarise the runs recorded by run.py.

    python3 perfbench/report.py [.bench_build/perfbench/results.jsonl]

For each workload: the median and quartiles of every end-to-end metric
across its untraced runs, then the per-layer table of its latest traced
run with the dominant layer, the time no layer span covers and the
tracing overhead.
"""
import json
import statistics
import sys
from pathlib import Path

LAYERS = ["config", "extract", "clean", "strategy", "collect", "load"]


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(path):
    runs = [json.loads(line) for line in Path(path).read_text().splitlines() if line.strip()]
    for workload in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == workload]
        plain = [r for r in mine if r["trace"] == 0]
        traced = [r for r in mine if r["trace"] == 1]
        print(f"== {workload}: {len(plain)} untraced runs, {len(traced)} traced runs")
        if plain:
            attempted = sum(r["attempted"] for r in plain)
            failed = sum(r["failed"] for r in plain)
            print(f"  packets checked {attempted}, failed {failed} "
                  f"(failed_frac {failed / attempted:.6g})")
            print(f"  {'metric':<16} {'unit':<6} {'q1':>12} {'median':>12} {'q3':>12} {'iqr/med':>8}")
            for name, m in plain[-1]["metrics"].items():
                values = [r["metrics"][name]["value"] for r in plain]
                q1, q2, q3 = quartiles(values)
                print(f"  {name:<16} {m['unit']:<6} {q1:12.6g} {q2:12.6g} {q3:12.6g} "
                      f"{(q3 - q1) / q2:8.3f}")
        if traced:
            last = traced[-1]
            m = {k: v["value"] for k, v in last["metrics"].items()}
            s = last.get("summary", {})
            print(f"  latest traced run (seed {last['seed']}):")
            print(f"  {'layer':<10} {'time_s':>8} {'jobs':>6} {'task_s':>8} {'input_B':>10} "
                  f"{'shuffle_B':>10} {'compiles':>8} {'codegen_fb':>10}")
            for layer in LAYERS:
                print(f"  {layer:<10} {m[layer + '.time_s']:8.3f} {m[layer + '.jobs']:6.0f} "
                      f"{m[layer + '.task_s']:8.3f} {m[layer + '.input_bytes']:10.0f} "
                      f"{m[layer + '.shuffle_bytes']:10.0f} {m[layer + '.codegen_compiles']:8.0f} "
                      f"{m[layer + '.codegen_fallbacks']:10.0f}")
            strategies = sorted(k[:-len(".time_s")] for k in m
                                if k.startswith("strategy.") and k.endswith(".time_s")
                                and k != "strategy.time_s")
            for st in strategies:
                print(f"    {st:<38} {m[st + '.time_s']:8.3f} s {m[st + '.jobs']:6.0f} jobs")
            print(f"  dominant layer by span time: {s.get('dominant_layer')}; "
                  f"by task time: {s.get('dominant_task_layer')}")
            spans = sum(m[layer + ".time_s"] for layer in LAYERS)
            untraced = float(s.get("untraced_wall_s", "nan"))
            print(f"  layer spans sum to {spans:.3f} s: {m['trace.uncovered_s']:.3f} s of the "
                  f"traced run and {untraced - spans:.3f} s of the untraced wall_s "
                  f"({untraced:.3f} s) uncovered")
            print(f"  tracing overhead {m['trace.overhead_frac']:+.3f} "
                  f"(traced {s.get('traced_wall_s')} s vs untraced {s.get('untraced_wall_s')} s)")
            for k in ("load.map_task_s", "load.result_task_s", "load.files_written",
                      "load.bytes_written", "load.jsonl_time_s", "extract.scan_amplification",
                      "pipeline.gc_s", "pipeline.spill_bytes", "pipeline.peak_exec_mem_mb"):
                print(f"  {k:<28} {m[k]:.6g} {last['metrics'][k]['unit']}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".bench_build/perfbench/results.jsonl")
