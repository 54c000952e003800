#!/usr/bin/env python3
"""Dev-time replica of the driver's correctness gate.

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`:
  - loads each <outDir>/<name> parquet (Spark result)
  - runs <outDir>/oracle_sql.json [name] in DuckDB over the sf tables
  - compares with columns sorted by name (values must match exactly)

Usage: python3 tools/check_oracle.py <sfDir> <outDir> [name...]

Set CHECK_ORACLE_JSON=<path> to also write a machine-readable artifact:
one row per checked query with its verdict and the ORACLE SCALE FACTOR
the check ran at (derived from sfDir; VERDICT r15 task 5 — so a row
gated only at sf0.01, like q_ann_beam_topk whose sf0.1 mirror is
disk-prohibitive, is distinguishable from the sf0.1-re-verified rest).
Rows merge into an existing artifact: a query's oracle_sf is the MAX sf
at which it has passed, and per-sf verdicts are kept under `by_sf`.
"""
import json, sys, glob, os, re, shutil, tempfile
import duckdb
import pandas as pd

def duckdb_config(spill_dir):
    """Cap DuckDB at half the host's MemTotal and give it a spill dir:
    uncapped, a heavy mirror grows until the host runs out of memory
    instead of spilling its operators to disk."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"memory_limit": f"{kb // 2048}MB", "temp_directory": spill_dir}

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = m.group(1).rstrip(".") if m else sf_dir
    results = {}
    spill_dir = tempfile.mkdtemp(prefix="check_oracle_")
    try:
        con = duckdb.connect(config=duckdb_config(spill_dir))
        check(con, sf_dir, out_dir, only, sf, results)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)

def check(con, sf_dir, out_dir, only, sf, results):
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        t = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"FAIL {name}: no spark output dir"); n_bad += 1
            results[name] = "no_output"; continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df()
            oracle_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_bad += 1
            results[name] = "error"; continue
        spark_df = spark_df[sorted(spark_df.columns)]
        oracle_df = oracle_df[sorted(oracle_df.columns)]
        if list(spark_df.columns) != list(oracle_df.columns):
            print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(oracle_df.columns)}")
            n_bad += 1; results[name] = "schema_mismatch"; continue
        if len(spark_df) != len(oracle_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(oracle_df)}")
            n_bad += 1; results[name] = "row_mismatch"; continue
        bad_cols = []
        for c in spark_df.columns:
            a, b = spark_df[c], oracle_df[c]
            try:
                eq = (a.astype(str).values == b.astype(str).values)
            except Exception:
                eq = (a.values == b.values)
            if not eq.all():
                i = (~eq).argmax()
                bad_cols.append((c, i, a.iloc[i], b.iloc[i]))
        if bad_cols:
            c, i, av, bv = bad_cols[0]
            print(f"FAIL {name}: {len(bad_cols)} col(s) differ; first: {c}[{i}] spark={av!r} oracle={bv!r}")
            n_bad += 1; results[name] = "value_mismatch"
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")
            n_ok += 1; results[name] = "pass"
    art = os.environ.get("CHECK_ORACLE_JSON")
    if art:
        merged = {}
        if os.path.exists(art):
            merged = json.load(open(art)).get("queries", {})
        for name, verdict in results.items():
            row = merged.setdefault(name, {"oracle_sf": None, "by_sf": {}})
            row["by_sf"][sf] = verdict
            passed = [float(k) for k, v in row["by_sf"].items() if v == "pass"]
            row["oracle_sf"] = max(passed) if passed else None
        with open(art, "w") as f:
            json.dump({"metric": "oracle_sf", "queries": merged}, f, indent=1,
                      sort_keys=True)
        print(f"wrote {art} ({len(merged)} queries)")
    print(f"\n{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
