#!/usr/bin/env python3
"""Compare two graft.Bench JSON lines (or BENCH_r*.json driver files).

Usage: python3 tools/bench_compare.py <old.json> <new.json> [threshold]

Accepts either a raw Bench output line or the driver's BENCH_r*.json
wrapper (extracts the JSON line from its "tail"). Prints per-query
deltas sorted by regression, flagging changes beyond the threshold
(default 1.5x). Exits 1 on a regression, or when a query of the old run
is missing from the new one (a query that stopped running is a failure,
not a speed-up).
"""
import json
import re
import sys


def load(path: str) -> dict:
    text = open(path).read()
    try:
        d = json.loads(text)
        if "queries" in d:
            return d
        if "tail" in d:  # driver wrapper
            m = re.search(r'\{"metric":.*?"sf":[^}]*\}', d["tail"])
            if m:
                return json.loads(m.group(0).replace('\\"', '"'))
    except json.JSONDecodeError:
        m = re.search(r'\{"metric":.*\}', text)
        if m:
            return json.loads(m.group(0))
    raise SystemExit(f"cannot parse bench JSON from {path}")


def main(old_path: str, new_path: str, threshold: float = 1.5) -> int:
    old, new = load(old_path), load(new_path)
    oq, nq = old["queries"], new["queries"]
    rows = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        ratio = (b / a) if (a and b) else None
        rows.append((ratio if ratio is not None else 0.0, name, a, b))
    rows.sort(reverse=True)
    flagged = 0
    removed = []
    for ratio, name, a, b in rows:
        mark = ""
        if a is None:
            mark = "NEW"
        elif b is None:
            mark = "REMOVED"
            removed.append(name)
        elif ratio >= threshold:
            mark = "SLOWER"
            flagged += 1
        elif ratio <= 1 / threshold:
            mark = "faster"
        fa = f"{a:7.2f}" if a is not None else "      -"
        fb = f"{b:7.2f}" if b is not None else "      -"
        fr = f"{ratio:5.2f}x" if ratio else "     -"
        print(f"{fa} {fb} {fr} {mark:8s} {name}")
    print(f"--- total {old['value']:.1f}s -> {new['value']:.1f}s "
          f"({len(oq)} -> {len(nq)} queries), {flagged} regressions "
          f">= {threshold}x")
    if removed:
        print(f"FAIL: {len(removed)} queries of the old run are missing "
              f"from the new one: {', '.join(removed)}")
    return 1 if flagged or removed else 0


if __name__ == "__main__":
    t = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    sys.exit(main(sys.argv[1], sys.argv[2], t))
