#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver gate.

Usage: python3 tools/oracle_check.py [sfDir] [outDir]

Runs DuckDB on oracle_sql.json (dumped by graft.Verify) against the same
parquet tables, and compares each Spark result parquet with the DuckDB
result: column set, dtypes, row count, and exact values after sorting
columns by name and rows by all columns. Each oracle's DuckDB seconds go to
<outDir>/oracle_cost.json; the checkout is not written.
"""
import glob
import json
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # graft.Verify records per-query execution failures here (always written,
    # {} when clean) so a broken query surfaces as an explicit [ERR] line
    # rather than a silently-missing output directory.
    errors_path = f"{out_dir}/errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    failures = []
    # Per-oracle DuckDB wall cost — the oracle suite's total DuckDB time is
    # what can kill the driver gate (r15's CORRECTNESS artifact arrived empty;
    # a timeout-killed gate is the plausible mechanism). Written to
    # <out_dir>/oracle_cost.json beside the outputs it timed, so a check
    # leaves the checkout untouched; the committed ORACLE_COST.json is
    # refreshed from it only on purpose.
    cost = {}
    for name, sql in sorted(oracles.items()):
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            failures.append(name)
            if name in errors:
                print(f"[ERR]  {name}: {errors[name][:300]}")
            else:
                print(f"[MISS] {name}: no spark output at {spark_dir}")
            continue
        try:
            got = pd.read_parquet(spark_dir)
        except Exception as e:
            failures.append(name)
            print(f"[READ-FAIL] {name}: {e}")
            continue
        t0 = time.monotonic()
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"[ORACLE-FAIL] {name}: {e}")
            continue
        finally:
            cost[name] = round(time.monotonic() - t0, 3)

        ok = True
        if sorted(got.columns) != sorted(want.columns):
            print(f"[COLS] {name}: spark={sorted(got.columns)} duckdb={sorted(want.columns)}")
            ok = False
        if ok and len(got) != len(want):
            print(f"[ROWS] {name}: spark={len(got)} duckdb={len(want)}")
            ok = False
        if ok:
            cols = sorted(got.columns)
            g = got[cols].sort_values(cols).reset_index(drop=True)
            w = want[cols].sort_values(cols).reset_index(drop=True)
            for c in cols:
                gc, wc = g[c], w[c]
                if str(gc.dtype) != str(wc.dtype):
                    print(f"[DTYPE] {name}.{c}: spark={gc.dtype} duckdb={wc.dtype}")
                    # dtype mismatch is a schema-gate risk; still compare values
                if not gc.equals(wc):
                    neq = (gc != wc) & ~(gc.isna() & wc.isna())
                    n = int(neq.sum())
                    if n:
                        i = neq.idxmax()
                        print(f"[VAL] {name}.{c}: {n} diffs, first@{i}: spark={gc[i]!r} duckdb={wc[i]!r}")
                        ok = False
        print(("[OK]  " if ok else "[FAIL]") + f" {name}  rows={len(got)}")
        if not ok:
            failures.append(name)

    with open(os.path.join(out_dir, "oracle_cost.json"), "w") as f:
        json.dump({"total_sec": round(sum(cost.values()), 1),
                   "oracles": dict(sorted(cost.items(),
                                          key=lambda kv: -kv[1]))}, f, indent=0)
    top = sorted(cost.items(), key=lambda kv: -kv[1])[:10]
    print("\nDuckDB oracle cost: total "
          f"{sum(cost.values()):.1f}s; top: "
          + ", ".join(f"{k}={v:.1f}s" for k, v in top))
    print(f"\n{len(oracles) - len(failures)}/{len(oracles)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
