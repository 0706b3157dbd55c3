#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet and
compare (rows sorted, columns sorted by name, exact value match).

Usage: python3 scripts/check.py [sfDir] [outDir] [--no-run]
"""
import json, math, os, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

args = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
OUT = args[1] if len(args) > 1 else "/tmp/verify_out"
# --only=a,b,c: dump + compare a subset (sets VERIFY_ONLY for the
# graft.Verify run and restricts the DuckDB compare to the same names)
ONLY = None
for a in sys.argv[1:]:
    if a.startswith("--only="):
        ONLY = [s for s in a[len("--only="):].split(",") if s]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--no-run" not in sys.argv:
    env = dict(os.environ)
    if ONLY:
        env["VERIFY_ONLY"] = ",".join(ONLY)
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        cwd="/root/repo", capture_output=True, text=True, env=env)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    p = f"{SF}/{t}.parquet"
    if Path(p).exists():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
if ONLY:
    missing = [n for n in ONLY if n not in oracle]
    oracle = {n: oracle[n] for n in ONLY if n in oracle}
    if missing:
        print(f"NOTE: --only names without an oracle (rows-only): {missing}")

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)

fails = []
for name in sorted(oracle):
    pdir = Path(OUT) / name
    files = list(pdir.glob("*.parquet")) if pdir.exists() else []
    if not files:
        fails.append(name); print(f"MISSING {name}"); continue
    try:
        spark_tbl = pq.read_table(files[0])
        duck_tbl = con.execute(oracle[name]).fetch_arrow_table()
        s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck_tbl.column_names)
        if s_cols != d_cols:
            fails.append(name)
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            continue
        s_rows = sorted(tuple(norm(v) for v in row)
                        for row in zip(*[spark_tbl.column(c).to_pylist() for c in s_cols]))
        d_rows = sorted(tuple(norm(v) for v in row)
                        for row in zip(*[duck_tbl.column(c).to_pylist() for c in d_cols]))
        s_types = {c: str(spark_tbl.schema.field(c).type) for c in s_cols}
        d_types = {c: str(duck_tbl.schema.field(c).type) for c in d_cols}
        tnote = "" if s_types == d_types else f"  [type diff: spark={s_types} duck={d_types}]"
        if s_rows == d_rows:
            print(f"OK   {name} ({len(s_rows)} rows){tnote}")
            if tnote:
                fails.append(name + " (types)")
        else:
            fails.append(name)
            diff = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b][:3]
            print(f"FAIL {name}: {len(s_rows)} vs {len(d_rows)} rows; first diffs:")
            for i in diff:
                print(f"   spark[{i}]={s_rows[i]}\n   duck [{i}]={d_rows[i]}")
            if len(s_rows) != len(d_rows):
                print(f"   spark head={s_rows[:2]} duck head={d_rows[:2]}")
    except Exception as e:
        fails.append(name)
        print(f"ERROR {name}: {e}")

# queries that threw in graft.Verify, oracle-checked or not (a failed
# rows-only query would otherwise vanish from this report)
failed_json = Path(OUT) / "failed.json"
failed = json.loads(failed_json.read_text()) if failed_json.exists() else {}
for name in sorted(failed):
    print(f"FAILED {name}: {failed[name][:300]}")

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match"
      + (f"; {len(failed)} failed in Verify" if failed else ""))
sys.exit(1 if fails or failed else 0)
