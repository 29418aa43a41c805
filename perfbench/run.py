#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(offline) into `.bench_build/`; later runs reuse that build while the
sources are unchanged. Each run then starts one JVM that sets up a Spark
session, times a closed loop of the workload's catalog ops, and writes each
op's result once more for the DuckDB output check (`tools/check_oracle.py`).

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics, and the full trace (spans,
per-op layer split, dominant layer) is written under `.bench_work/results/`.
An op that throws or fails the output check makes the run exit 1 after
printing its metrics line, with "correct": false.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
BUILD = ROOT / ".bench_build"  # build stamp, classpath and sbt log
RESULTS = WORK / "results"
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within 180 s
# An execution during which the host's other tenants took more than this
# share of the machine's CPU time is left out of the medians (see per_op).
STEAL_LIMIT = 0.03
MACHINE_CPUS = os.cpu_count() or 1

# graft.Bench's JVM options (build.sbt `javaOptions`), with the heap pinned
# (-Xms = -Xmx): G1 shrinks an unpinned heap after each between-op
# System.gc(), and the ops then ran with a small young generation, which
# made pass_s swing by about 20% between runs.
JVM_OPTS = [
    *[x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xms4g",
    "-Xmx4g",
    "-XX:ReservedCodeCacheSize=512m",
]

BUILD_INPUTS = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
                ROOT / "src" / "main", HERE / "build.sbt",
                HERE / "project" / "build.properties", HERE / "src"]


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp() -> str:
    h = hashlib.sha256()
    for base in BUILD_INPUTS:
        if not base.exists():
            fail(f"missing build input {base.relative_to(ROOT)}; run from a full checkout")
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile with sbt when the sources changed; return the classpath."""
    out = BUILD
    stamp, cp_file = out / "stamp", out / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        cp = cp_file.read_text()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = out / "sbt.log"
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    cps = [l for l in lines if "scala-library" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (rc={r.returncode}); see {log}")
    cp_file.write_text(cps[-1].strip())
    stamp.write_text(want)
    return cps[-1].strip()


def run_jvm(cp: str, ops: list, args, sf: str, out: Path, deadline: float) -> dict:
    run_dir = out.parent
    for d in ("tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
           "perfbench.LayerBench", "--ops", ",".join(ops), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", sf,
           "--cpus", str(cpus), "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM did not finish in time; see {run_dir / 'jvm.log'}")
    if rc != 0 or not (out / "raw.json").exists():
        fail(f"JVM exited with {rc}; see {run_dir / 'jvm.log'}")
    return json.loads((out / "raw.json").read_text())


def oracle_check(check_dir: Path, sf: str, deadline: float) -> tuple:
    """Run tools/check_oracle.py; return (failed op names, report lines)."""
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                        str(check_dir), sf], capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.monotonic()))
    lines = r.stdout.splitlines()
    bad = {l.split()[1].rstrip(":") for l in lines if l.startswith("[FAIL]")}
    if r.returncode != 0 and not bad:
        bad = {"<oracle tool>"}
        lines.append(r.stderr.strip())
    return bad, lines


# ---------------------------------------------------------------- metrics

def quantile(values: list, q: float) -> float:
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    i = q * (len(v) - 1)
    lo = int(i)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (i - lo)


def contended(r: dict) -> bool:
    """Whether the host took more than STEAL_LIMIT of the machine's CPU
    time while this execution ran (the `steal` column of /proc/stat)."""
    return r["steal_s"] > STEAL_LIMIT * MACHINE_CPUS * r["wall_s"]


def per_op(runs: list, key) -> dict:
    """op -> median of key(run) over its successful timed executions.

    Executions during which the host was contended are left out when the
    op has others: steal is CPU time taken by other tenants of the host,
    never by the program, so this drops noise but no program stall.
    """
    by = {}
    for r in runs:
        if r["ok"]:
            by.setdefault(r["op"], []).append(r)
    return {op: statistics.median(key(r) for r in ([r for r in rs if not contended(r)] or rs))
            for op, rs in by.items()}


def end_to_end(raw: dict, classes: dict) -> dict:
    runs = raw["ops"]
    wall = per_op(runs, lambda r: r["wall_s"])
    # every execution counts here, contended or not, so stalls still show
    ratios = [r["wall_s"] / wall[r["op"]] for r in runs if r["ok"]]
    return {
        "pass_s": sum(wall.values()),
        "read_s": sum(v for op, v in wall.items() if classes[op] == "read"),
        "write_s": sum(v for op, v in wall.items() if classes[op] == "write"),
        "setup_s": raw["setup"]["setup_s"],
        "heap_retained_mb": max(raw["heap_after_gc_mb"]),
        "op_tail_ratio": quantile(ratios, 0.9) if ratios else 0.0,
        "op_tail_samples": len(ratios),
        "contended_executions": sum(1 for r in runs if r["ok"] and contended(r)),
        "op_median_s": wall,
    }


def union_ms(intervals: list, lo: int, hi: int) -> set:
    s = set()
    for a, b in intervals:
        s.update(range(max(a, lo), min(b, hi)))
    return s


LAYERS = ("exec", "plans", "exec_driver", "streaming", "operators")


def layer_split(r: dict, spans: dict) -> dict:
    """Self time (s) of each layer within one op execution.

    Each millisecond of the op goes to the first layer covering it, in the
    order: exec (a job runs), plans (analysis/optimization/planning),
    exec_driver (a SQL execution runs outside jobs and planning),
    streaming (a micro-batch runs outside the above), operators (the
    entry function's own eager time). What is left is unattributed.
    """
    lo, hi = r["start_ms"], r["end_ms"]
    cover = {
        "exec": union_ms(spans["jobs"], lo, hi),
        "plans": union_ms(spans["phases"], lo, hi),
        "exec_driver": union_ms(spans["execs"], lo, hi),
        "streaming": union_ms(spans["batches"], lo, hi),
        "operators": set(range(lo, r["eager_end_ms"])),
    }
    seen, split = set(), {}
    for layer in LAYERS:
        mine = cover[layer] - seen
        split[layer] = len(mine) / 1e3
        seen |= mine
    split["unattributed"] = max(0.0, r["wall_s"] - len(seen) / 1e3)
    return split


def per_layer(raw: dict, classes: dict, e2e: dict) -> tuple:
    """Per-layer metrics (each a per-pass total) and the per-op trace."""
    runs = [r for r in raw["ops"] if r["ok"]]

    def within(items, r):
        return [x for x in items if r["start_ms"] <= x["start_ms"] < r["end_ms"]]

    jobs_iv = [(j["start_ms"], j["end_ms"]) for j in raw["jobs"]]
    phases = [p for ps in raw["plan_phases"] for p in ps]
    spans = {"jobs": jobs_iv,
             "phases": [(p["start_ms"], p["end_ms"]) for p in phases],
             "execs": [(x["start_ms"], x["end_ms"]) for x in raw["sql_executions"]],
             "batches": [(b["start_ms"], b["end_ms"]) for b in raw["batches"]]}
    modules = ("sources", "operators", "streaming", "core", "mr")
    rows = []
    for r in runs:
        c = r["counters"]
        jobs = within(raw["jobs"], r)
        eager_jobs = [j for j in jobs if j["start_ms"] < r["eager_end_ms"]]
        execs_ = within(raw["sql_executions"], r)
        ph = within(phases, r)
        bs = within(raw["batches"], r)
        busy = len(union_ms(jobs_iv, r["start_ms"], r["end_ms"])) / 1e3
        dur = lambda k: sum(b["durations_ms"].get(k, 0.0) for b in bs) / 1e3
        last = {}
        for b in bs:
            last[b["query"]] = b
        split = layer_split(r, spans)
        m = {
            "operators.eager_s": r["eager_s"],
            "operators.eager_jobs": len(eager_jobs),
            "operators.final_s": r["wall_s"] - r["eager_s"],
            "plans.executions": len(execs_),
            "plans.analysis_s": sum(p["end_ms"] - p["start_ms"] for p in ph if p["phase"] == "analysis") / 1e3,
            "plans.optimization_s": sum(p["end_ms"] - p["start_ms"] for p in ph if p["phase"] == "optimization") / 1e3,
            "plans.planning_s": sum(p["end_ms"] - p["start_ms"] for p in ph if p["phase"] == "planning") / 1e3,
            "exec.jobs": len(jobs),
            "exec.stages": c["stages"],
            "exec.tasks": c["tasks"],
            "exec.failed_tasks": c["failed_tasks"],
            "exec.task_run_s": c["task_run_s"],
            "exec.task_cpu_s": c["task_cpu_s"],
            "exec.gc_s": c["gc_s"],
            "exec.input_mb": c["input_mb"],
            "exec.shuffle_write_mb": c["shuffle_write_mb"],
            "exec.shuffle_read_mb": c["shuffle_read_mb"],
            "exec.spill_mb": c["spill_mb"],
            "exec.job_busy_s": busy,
            "exec.driver_only_s": r["wall_s"] - busy,
            **{f"exec.jobs.{mod}": sum(1 for j in eager_jobs if j["module"] == mod) for mod in modules},
            "exec.jobs.other": sum(1 for j in eager_jobs if j["module"] not in modules),
            "sources.commits": c["commits"],
            "sources.files_written": c["files_written"],
            "sources.mb_written": c["mb_written"],
            "fs.mb_read": c["fs_mb_read"],
            "fs.mb_written": c["fs_mb_written"],
            "streaming.queries": c["stream_queries"],
            "streaming.batches": len(bs),
            "streaming.input_rows": sum(b["input_rows"] for b in bs),
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.state_commit_s": sum(b["state_commit_ms"] for b in bs) / 1e3,
            "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
            "streaming.state_mem_mb": sum(b["state_mem_bytes"] for b in last.values()) / 1048576,
            "streaming.startup_s": (r["wall_s"] - dur("triggerExecution")) if c["stream_queries"] else 0.0,
            "mr.ops_s": r["wall_s"] if r["op"].startswith("mr_") else 0.0,
            **{f"self.{k}_s": v for k, v in split.items()},
        }
        rows.append((r, m, split))
    names = list(rows[0][1]) if rows else []
    by_op = {}
    for r, m, _ in rows:
        by_op.setdefault(r["op"], []).append(m)
    # per-pass total: sum over ops of each op's median over its executions
    op_med = {op: {k: statistics.median(x[k] for x in ms) for k in names} for op, ms in by_op.items()}
    metrics = {k: sum(op_med[op][k] for op in op_med) for k in names}
    metrics["exec.core_util"] = (metrics["exec.task_run_s"] /
                                 max(1e-9, metrics["exec.job_busy_s"] * raw["cpus"]))
    for k in ("session_s", "warm_s"):
        metrics[f"setup.{k}"] = raw["setup"][k]
    metrics.update({k: e2e[k] for k in ("read_s", "write_s", "op_tail_ratio", "op_tail_samples")})
    observed = {op: ("write" if m["sources.commits"] > 0 or m["streaming.queries"] > 0 else "read")
                for op, m in op_med.items()}
    ops_trace = {}
    for op, m in op_med.items():
        split = {k[len("self."):-2]: v for k, v in m.items() if k.startswith("self.")}
        attributed = {k: v for k, v in split.items() if k != "unattributed"}
        ops_trace[op] = {"class": classes[op], "observed_class": observed[op],
                         "median_wall_s": e2e["op_median_s"][op],
                         "self_s": split,
                         "dominant_layer": max(attributed, key=attributed.get),
                         "metrics": m}
    def children(lo, hi):
        inside = lambda x: lo <= x["start_ms"] < hi
        return {"jobs": [j["id"] for j in raw["jobs"] if inside(j)],
                "sql_executions": [x["id"] for x in raw["sql_executions"] if inside(x)],
                "batches": [[b["query"], b["batch"]] for b in raw["batches"] if inside(b)]}
    # op spans; each names the child spans (by id) of its eager and final parts
    executions = [{"op": r["op"], "pass": r["pass"], "start_ms": r["start_ms"],
                   "eager_end_ms": r["eager_end_ms"], "end_ms": r["end_ms"], "self_s": s,
                   "eager": children(r["start_ms"], r["eager_end_ms"]),
                   "final": children(r["eager_end_ms"], r["end_ms"])}
                  for r, _, s in rows]
    return metrics, ops_trace, executions


# ---------------------------------------------------------------- main

def metric_units(kind: str) -> dict:
    """name -> unit of the BENCHMARK.json metrics of one kind, in order."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; one of {sorted(spec['workloads'])}")
    classes = spec["workloads"][args.workload]["ops"]
    ops = list(classes)
    # the harness tables (TESTDATA.md), beside sbt's caches in the home dir
    sf = str(Path.home() / "testdata" / spec["scale"])
    if not Path(sf).is_dir():
        fail(f"input tables not found at {sf}")

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = WORK / args.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    out = run_dir / "out"
    t0 = time.monotonic()
    raw = run_jvm(cp, ops, args, sf, out, deadline)
    t1 = time.monotonic()
    bad, report = oracle_check(out / "check", sf, deadline)
    wall = {"jvm_s": t1 - t0, "oracle_s": time.monotonic() - t1}

    failures = dict(raw["failures"])
    for op in bad:
        failures.setdefault(op, "output check failed")
    timed = raw["ops"]
    attempted = len(timed) + len(ops)  # timed passes + the warm/check pass
    threw = sum(1 for r in timed if not r["ok"])
    failed = threw + len(failures)
    e2e = end_to_end(raw, classes)
    e2e["op_fail_ratio"] = failed / attempted
    per_op_runs = min((sum(1 for r in timed if r["op"] == op and r["ok"]) for op in ops), default=0)

    RESULTS.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": raw["cpus"], "passes": raw["passes"],
                "scale": spec["scale"], "wall": wall, "setup": raw["setup"],
                "heap_after_gc_mb": raw["heap_after_gc_mb"], "end_to_end": e2e,
                "op_tail_note": (f"{per_op_runs} executions per op: a ratio to the op's own "
                                 "median in one run understates a stall when the op ran "
                                 "few times; compare.py pools runs to see stalls"),
                "failures": failures, "oracle_report": report,
                "latencies": [{"op": r["op"], "pass": r["pass"], "wall_s": r["wall_s"],
                               "eager_s": r["eager_s"], "steal_s": r["steal_s"], "ok": r["ok"]}
                              for r in timed]}
    if args.trace:
        layer, ops_trace, executions = per_layer(raw, classes, e2e)
        layer["op_fail_ratio"] = e2e["op_fail_ratio"]
        untraced = [json.loads(p.read_text())["end_to_end"]["pass_s"]
                    for p in RESULTS.glob(f"{args.workload}-seed*-trace0.json")]
        artifact.update({
            "per_layer": layer, "ops": ops_trace, "executions": executions,
            "tracing_overhead": {
                "traced_pass_s": e2e["pass_s"],
                "untraced_pass_s": statistics.median(untraced) if untraced else None,
                "overhead_s": (e2e["pass_s"] - statistics.median(untraced)) if untraced else None,
                "untraced_runs": len(untraced)},
            "spans": {k: raw[k] for k in ("jobs", "sql_executions", "plan_phases", "batches")}})
        mismatched = {op: t["observed_class"] for op, t in ops_trace.items()
                      if t["observed_class"] != t["class"]}
        if mismatched:
            print(f"[perfbench] op classes differ from workloads.json: {mismatched}", file=sys.stderr)
        units = metric_units("per_layer")
        metrics = {k: layer[k] for k in units}
    else:
        units = metric_units("end_to_end")
        metrics = {k: e2e[k] for k in units}
    (RESULTS / f"{tag}.json").write_text(json.dumps(artifact, indent=1))
    for op, why in failures.items():
        print(f"[perfbench] {op}: {why}", file=sys.stderr)
    correct = not failures and threw == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    if not correct:
        # pass_s leaves out executions that threw, so a failing run's
        # figures must never pass for a fast one
        sys.exit(1)


if __name__ == "__main__":
    main()
