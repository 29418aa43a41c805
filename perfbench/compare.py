#!/usr/bin/env python3
"""Paired comparison of two checkouts (parent and change) on the benchmark.

Usage:
    python3 perfbench/compare.py --parent DIR --change DIR [--pairs 10]
        [--workloads analytics,store] [--out FILE]

DIR is the root of a checkout of each commit. Both sides run this copy of
the benchmark: `perfbench/` and `BENCHMARK.json` are copied into each
checkout first, so the two commits differ only in the program.

For each workload it runs `--pairs` pairs of untraced runs of
BENCHMARK.json's `run_seconds`, alternating which side goes first, one
seed per pair (seeds SEED_BASE, SEED_BASE + 1, ...). A run that fails
(an op throws or fails the output check) stops the comparison, so a
broken op is never read as a gain. For each end-to-end metric it
reports each side's median and quartiles, the change's win share (ties
count for neither side) and a verdict:

- unresolved: a side's quartile spread exceeds the metric's bound, and
  not every run of the change reads better than every run of the parent;
- regression: the change's median is worse by more than the bound;
- gain: the change wins at least 9 of 10 pairs and the medians differ by
  more than the parent's quartile spread;
- flat: none of the above.

It also pools each side's op latencies over all its runs for the tail
ratio (p90 of latency / that op's median over all of the side's runs; the
sample count is printed),
and diffs the per-layer metrics of one traced run per side, so that a
gain can be located by layer.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

from run import quantile

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SEED_BASE = 1000


def sync(checkout: Path) -> None:
    """Copy this benchmark into the checkout, leaving build outputs out."""
    dst = checkout / HERE.name
    if dst.resolve() != HERE:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(HERE, dst, ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy2(ROOT / "BENCHMARK.json", checkout / "BENCHMARK.json")


def run(checkout: Path, workload: str, seed: int, seconds: int, trace: int) -> tuple:
    cmd = [sys.executable, f"{HERE.name}/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout}: {' '.join(cmd)}\n{lines[-1:]}\n{r.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"run in {checkout} is not correct: {' '.join(cmd)}")
    artifact = json.loads((checkout / ".bench_work" / "results" /
                           f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return result, artifact


def quartiles(v: list) -> tuple:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, med, q3


def tail_ratio(artifacts: list) -> tuple:
    """p90 of latency / that op's median over all runs; (value, samples)."""
    by_op = {}
    for a in artifacts:
        for l in a["latencies"]:
            if l["ok"]:
                by_op.setdefault(l["op"], []).append(l["wall_s"])
    ratios = [x / statistics.median(v) for v in by_op.values() for x in v]
    return (quantile(ratios, 0.9) if ratios else float("nan")), len(ratios)


def verdict(metric: dict, parent: list, change: list) -> dict:
    lower = metric["better"] == "lower"
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if (c < p if lower else c > p))
    share = wins / len(parent)
    pspread = (pq3 - pq1) / pmed if pmed else float("inf")
    cspread = (cq3 - cq1) / cmed if cmed else float("inf")
    worse = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
    all_better = max(change) < min(parent) if lower else min(change) > max(parent)
    if max(pspread, cspread) > metric["bound"] and not all_better:
        v = "unresolved"
    elif worse > metric["bound"]:
        v = "regression"
    elif share >= 0.9 and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    else:
        v = "flat"
    return {"parent": {"q1": pq1, "median": pmed, "q3": pq3, "spread": pspread},
            "change": {"q1": cq1, "median": cmed, "q3": cq3, "spread": cspread},
            "change_vs_parent": (cmed - pmed) / pmed if pmed else None,
            "win_share": share, "bound": metric["bound"], "verdict": v}


def main() -> None:
    ap = argparse.ArgumentParser(description="Paired parent/change comparison.")
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", type=Path, default=None)
    args = ap.parse_args()
    if args.pairs < 10:
        raise SystemExit("at least 10 pairs are needed to judge a change")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    for d in sides.values():
        sync(d)

    report = {}
    for w in workloads:
        vals = {s: {m["name"]: [] for m in spec["end_to_end"]} for s in sides}
        arts = {s: [] for s in sides}
        for i in range(args.pairs):
            seed = SEED_BASE + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                result, art = run(sides[side], w, seed, seconds, 0)
                arts[side].append(art)
                for k, v in result["metrics"].items():
                    vals[side][k].append(v["value"])
            print(f"[compare] {w} pair {i + 1}/{args.pairs} done", file=sys.stderr)
        traced = {s: run(sides[s], w, SEED_BASE, seconds, 1)[1]["per_layer"] for s in sides}
        rows = {m["name"]: verdict(m, vals["parent"][m["name"]], vals["change"][m["name"]])
                for m in spec["end_to_end"]}
        extra = {}
        for k in ("read_s", "write_s"):
            p = [a["end_to_end"][k] for a in arts["parent"]]
            c = [a["end_to_end"][k] for a in arts["change"]]
            extra[k] = {"parent_median": statistics.median(p), "change_median": statistics.median(c)}
        for s in sides:
            value, n = tail_ratio(arts[s])
            extra[f"op_tail_ratio.{s}"] = {"value": value, "samples": n}
        layers = {}
        for k in sorted(set(traced["parent"]) | set(traced["change"])):
            p, c = traced["parent"].get(k), traced["change"].get(k)
            rel = (c - p) / p if p not in (None, 0) and c is not None else None
            layers[k] = {"parent": p, "change": c, "change_vs_parent": rel}
        report[w] = {"end_to_end": rows, "secondary": extra, "per_layer": layers}

        print(f"\n== {w} ({args.pairs} pairs, {seconds} s runs)")
        print(f"{'metric':<18}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}{'win':>6}  verdict")
        for k, r in rows.items():
            p, c = r["parent"], r["change"]
            print(f"{k:<18}{p['q1']:>10.4g}{p['median']:>10.4g}{p['q3']:>10.4g}"
                  f"{c['q1']:>10.4g}{c['median']:>10.4g}{c['q3']:>10.4g}"
                  f"{r['win_share']:>6.0%}  {r['verdict']}")
        for s in sides:
            t = extra[f"op_tail_ratio.{s}"]
            print(f"op_tail_ratio {s}: {t['value']:.3f} over {t['samples']} samples")
        moved = sorted(((k, v) for k, v in layers.items() if v["change_vs_parent"] is not None),
                       key=lambda kv: -abs(kv[1]["change_vs_parent"]))[:12]
        print("per-layer (traced run, largest relative moves):")
        for k, v in moved:
            print(f"  {k:<30}{v['parent']:>12.4g} -> {v['change']:<12.4g} ({v['change_vs_parent']:+.1%})")
    if args.out:
        args.out.write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
