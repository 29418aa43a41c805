#!/usr/bin/env python3
"""Record a baseline from the run artifacts already under .bench_work/results.

Usage (from the repository root, after the runs):
    python3 perfbench/baseline.py --commit HASH --seeds 101-110 --trace-seed 7

For each workload it gathers the untraced runs of the given seeds and the
traced run of --trace-seed, and writes perfbench/baseline/<workload>.json
with the machine's core count, the program's commit, the seeds, every
untraced run's end-to-end figures with their median and quartiles, and the
traced run's per-layer metrics, per-op layer split and tracing overhead.
"""
import argparse
import json
import os
import platform
import statistics
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = ROOT / ".bench_work" / "results"


def main() -> None:
    ap = argparse.ArgumentParser(description="Write perfbench/baseline/<workload>.json.")
    ap.add_argument("--commit", required=True, help="commit of the measured program")
    ap.add_argument("--seeds", required=True, help="first-last seed of the untraced runs")
    ap.add_argument("--trace-seed", type=int, required=True)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cpu = next((l.split(":", 1)[1].strip() for l in Path("/proc/cpuinfo").read_text().splitlines()
                if l.startswith("model name")), platform.processor())
    (HERE / "baseline").mkdir(exist_ok=True)
    for w in (x["name"] for x in spec["workloads"]):
        runs = [json.loads((RESULTS / f"{w}-seed{s}-trace0.json").read_text()) for s in range(lo, hi + 1)]
        traced = json.loads((RESULTS / f"{w}-seed{args.trace_seed}-trace1.json").read_text())
        summary = {}
        for m in [x["name"] for x in spec["end_to_end"]] + ["read_s", "write_s", "op_fail_ratio"]:
            v = [r["end_to_end"][m] for r in runs]
            q1, med, q3 = statistics.quantiles(v, n=4)
            summary[m] = {"q1": q1, "median": med, "q3": q3, "spread": (q3 - q1) / med if med else None}
        out = {
            "workload": w, "program_commit": args.commit, "nproc": os.cpu_count(), "cpu": cpu,
            "scale": runs[0]["scale"], "run_seconds": spec["run_seconds"],
            "seeds": list(range(lo, hi + 1)), "trace_seed": args.trace_seed,
            "note": "4-core figures; the r16/r17 graft.Bench numbers came from a 32-core box "
                    "and are not comparable with these.",
            "untraced_summary": summary,
            "untraced_runs": [{"seed": r["seed"], "passes": r["passes"], "setup": r["setup"],
                               "end_to_end": r["end_to_end"]} for r in runs],
            "traced": {k: traced[k] for k in ("seed", "passes", "per_layer", "ops",
                                              "tracing_overhead", "failures")},
        }
        (HERE / "baseline" / f"{w}.json").write_text(json.dumps(out, indent=1) + "\n")
        print(f"[baseline] {w}: {len(runs)} untraced runs, pass_s median "
              f"{summary['pass_s']['median']:.3f} s")


if __name__ == "__main__":
    main()
