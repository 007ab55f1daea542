#!/usr/bin/env python3
"""Same answer at any partitioning: run graft.Verify at several core counts
and compare each query's rows across the runs.

Usage: partition_check.py <sfDir> <outDir> <q1,q2,...> [cpus, default 1,3,8]

For each core count k, runs `sbt runMain graft.Verify <sfDir> <outDir>/cpus<k>
<queries>` with SPARK_GRAFT_CPUS=k (local[k], k shuffle partitions). Then, per
query, compares every run with the first one in DuckDB: the two schemas must
be equal, and `EXCEPT ALL` in both directions must be empty. Top-level float
columns are compared at the oracle's tolerance: rounded to 6 dp on both
sides, with -0.0 folded into 0.0 (as scripts/oracle_check.py does).

Writes <outDir>/partition_report.json; exits 0 only when every query matches.
Set PARTITION_CHECK_REUSE=1 to compare existing run directories without
re-running Verify.
"""
import json
import os
import subprocess
import sys

import duckdb


def run_verify(sf_dir, out, queries, cpus):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = ["sbt", "-batch", f"runMain graft.Verify {sf_dir} {out} {queries}"]
    print(f"[partition] cpus={cpus}: {' '.join(cmd)}", flush=True)
    subprocess.run(cmd, env=env, check=True)


def columns(con, path):
    return con.execute(
        f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM read_parquet('{path}'))"
    ).fetchall()


def select(path, cols):
    exprs = []
    for name, kind in cols:
        q = '"' + name.replace('"', '""') + '"'
        if kind in ("DOUBLE", "FLOAT"):
            exprs.append(f"round({q}, 6) + 0.0 AS {q}")
        else:
            exprs.append(q)
    return f"SELECT {', '.join(exprs)} FROM read_parquet('{path}')"


def compare(con, base, other):
    cb, co = columns(con, base), columns(con, other)
    if cb != co:
        return {"status": "SCHEMA_MISMATCH", "base": cb, "other": co}
    a, b = select(base, cb), select(other, co)
    only_base = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    only_other = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    rows = con.execute(f"SELECT count(*) FROM read_parquet('{base}')").fetchone()[0]
    status = "SAME" if only_base == 0 and only_other == 0 else "DIFFERS"
    return {"status": status, "rows": rows,
            "only_base": only_base, "only_other": only_other}


def main():
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sf_dir, out_dir, queries = sys.argv[1], sys.argv[2], sys.argv[3]
    cpus = [int(c) for c in (sys.argv[4] if len(sys.argv) > 4 else "1,3,8").split(",")]
    runs = {k: os.path.join(out_dir, f"cpus{k}") for k in cpus}
    if os.environ.get("PARTITION_CHECK_REUSE") != "1":
        for k, out in runs.items():
            run_verify(sf_dir, out, queries, k)
    con = duckdb.connect()
    base_k = cpus[0]
    report, same = {}, 0
    for q in queries.split(","):
        per = {}
        for k in cpus[1:]:
            paths = [os.path.join(runs[j], f"{q}.parquet") for j in (base_k, k)]
            missing = [p for p in paths if not os.path.exists(p)]
            per[f"cpus{base_k}_vs_cpus{k}"] = (
                {"status": "NO_OUTPUT", "missing": missing} if missing
                else compare(con, *paths))
        ok = all(r["status"] == "SAME" for r in per.values())
        same += ok
        report[q] = per
        print(f"[partition] {q}: {'SAME' if ok else 'DIFFERS'} {json.dumps(per)}", flush=True)
    json.dump(report, open(os.path.join(out_dir, "partition_report.json"), "w"), indent=1)
    print(json.dumps({"same": same, "total": len(report), "cpus": cpus}))
    sys.exit(0 if same == len(report) else 1)


if __name__ == "__main__":
    main()
