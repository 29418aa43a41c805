#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <verifyOutDir> <sfDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the
sfDir tables, and compares: row count, column names/types (sorted by
name), and the multiset of row values. Where graft.Verify wrote
status.json (`{entry: "ok" | {"error": msg}}`), every entry it names
is checked and an entry that errored or left no dump is a failure.
Exits nonzero on any failure.
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(out_dir: str, sf_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failures = 0
    import glob
    import os
    dumped = sorted(d for d in os.listdir(out_dir)
                    if os.path.isdir(os.path.join(out_dir, d)))
    status_path = os.path.join(out_dir, "status.json")
    if os.path.exists(status_path):
        # Verify's own record of what it ran: the entry list, and each
        # entry's error if it threw
        with open(status_path) as f:
            status = json.load(f)
        names = sorted(status)
    else:
        # every oracle key must have a non-empty dump: a failed/raced
        # write otherwise vanishes silently from the comparison. (A dump
        # dir holding under half the catalog is a deliberate subset run
        # — `runMain graft.Verify <sf> <out> q1 q2` — check only what's
        # there.)
        status = {}
        subset = len(dumped) < len(oracles) / 2
        names = sorted(dumped if subset else set(dumped) | set(oracles))
    for name in names:
        if status.get(name, "ok") != "ok":
            print(f"[FAIL] {name}: Verify error: {status[name]['error']}")
            failures += 1
            continue
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            print(f"[FAIL] {name}: no dump written (Verify failed or "
                  f"raced another JVM?)")
            failures += 1
            continue
        spark_rel = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        if name not in oracles:
            n = con.execute(
                f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'"
            ).fetchone()[0]
            print(f"[rows-only] {name}: {n} rows")
            continue
        try:
            oracle_rel = con.sql(oracles[name])
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}")
            failures += 1
            continue
        s_cols = sorted(zip(spark_rel.columns,
                            [str(t) for t in spark_rel.types]))
        o_cols = sorted(zip(oracle_rel.columns,
                            [str(t) for t in oracle_rel.types]))
        if [c for c, _ in s_cols] != [c for c, _ in o_cols]:
            print(f"[FAIL] {name}: column names differ: "
                  f"{s_cols} vs {o_cols}")
            failures += 1
            continue
        if s_cols != o_cols:
            print(f"[warn] {name}: column types differ: "
                  f"{s_cols} vs {o_cols}")
        cols = ", ".join(f'"{c}"' for c, _ in s_cols)
        s_rows = con.execute(
            f"SELECT {cols} FROM '{out_dir}/{name}/*.parquet' "
            f"ORDER BY ALL").fetchall()
        o_rows = con.execute(
            f"SELECT {cols} FROM ({oracles[name]}) ORDER BY ALL"
        ).fetchall()
        if len(s_rows) != len(o_rows):
            print(f"[FAIL] {name}: row count {len(s_rows)} vs "
                  f"{len(o_rows)}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
        if bad:
            print(f"[FAIL] {name}: {len(bad)} differing rows; first: "
                  f"spark={bad[0][0]} oracle={bad[0][1]}")
            failures += 1
        else:
            print(f"[ok] {name}: {len(s_rows)} rows match exactly")
    if status:
        ok = sum(1 for v in status.values() if v == "ok")
        print(f"--- status.json: {ok} of {len(status)} entries ok")
    print(f"--- {len(names)} queries, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
