#!/usr/bin/env python3
"""Shape of the repo graph derived from a code_files table, as JSON.

    python3 perfbench/shape.py --code-files '.bench_build/data/<input>/code_files/*.parquet'
    python3 perfbench/shape.py --tpch <dir holding lineitem.parquet>

The second form applies the `GraphQueries.codeFiles` mapping to TPC-H
`lineitem`. Edges are derived as the program derives them: per commit and
per path, the distinct repositories in sorted order, each linked to its
next 8 successors. Needs the duckdb Python package; perfbench/README.md
holds the figures it gave.
"""
import argparse
import json

import duckdb

WINDOW_CAP = 8


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--code-files", help="parquet glob of a code_files table")
    src.add_argument("--tpch", help="directory with lineitem.parquet")
    a = ap.parse_args()

    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    if a.tpch:
        con.execute(f"""create view cf as select
            'r' || lpad(cast(l_partkey as varchar), 6, '0') as repo,
            's' || l_suppkey || '/f' || (l_partkey % 64) as path,
            cast(l_orderkey as varchar) as "commit"
            from read_parquet('{a.tpch}/lineitem.parquet')""")
    else:
        con.execute(f"""create view cf as select repo, path, "commit"
            from read_parquet('{a.code_files}')""")
    for table, key in (("m_commit", '"commit"'), ("m_path", "path")):
        con.execute(f"""create table {table} as select g, r,
            row_number() over (partition by g order by r) as rn
            from (select distinct {key} as g, repo as r from cf)""")
    con.execute(f"""create table se as select distinct a.r as s, b.r as d from
        (select * from m_commit union all select * from m_path) a join
        (select * from m_commit union all select * from m_path) b
        on a.g = b.g and b.rn > a.rn and b.rn <= a.rn + {WINDOW_CAP}""")

    def one(sql):
        return con.execute(sql).fetchone()

    def group_sizes(table):
        n, mean, p50, p90, p99, mx = one(f"""with c as (select g, max(rn) as k
            from {table} group by g) select count(*), avg(k), quantile_cont(k, 0.5),
            quantile_cont(k, 0.9), quantile_cont(k, 0.99), max(k) from c""")
        return dict(groups=n, mean=round(mean, 2), p50=p50, p90=p90, p99=p99, max=mx)

    rows, repos = one("select count(*), count(distinct repo) from cf")
    mean, p50, p99, mx = one("""with d as (select s as v from se union all
        select d from se), c as (select v, count(*) as k from d group by v)
        select avg(k), quantile_cont(k, 0.5), quantile_cont(k, 0.99), max(k) from c""")
    per_repo = one("""with c as (select repo, count(*) as k from cf group by repo)
        select avg(k), max(k) from c""")
    print(json.dumps(dict(
        rows=rows, repos=repos, simple_edges=one("select count(*) from se")[0],
        degree=dict(mean=round(mean, 1), p50=p50, p99=p99, max=mx),
        rows_per_repo=dict(mean=round(per_repo[0], 1), max=per_repo[1]),
        repos_per_path=group_sizes("m_path"),
        repos_per_commit=group_sizes("m_commit"))))


if __name__ == "__main__":
    main()
