#!/usr/bin/env python3
"""Print the statistics of graft's stand-in document stream that the
benchmark's generators follow.

    python3 perfbench/derive_inputs.py /path/to/sf0.1/events.parquet

`events` plays the document stream (event_id = _id, user_id = session,
ts = sys_time, event_type = topic, props = payload). The benchmark does not
run this script: it copies the printed figures into `Gen.scala`
(`SessionMean`, `WindowMs`, five topics in equal shares), and README.md
records them. Needs the duckdb Python package.
"""
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    con = duckdb.connect()
    con.execute(f"create view e as select * from read_parquet('{sys.argv[1]}')")
    q = lambda sql: con.execute(sql).fetchall()
    n, users = q("select count(*), count(distinct user_id) from e")[0]
    print(f"documents {n}, sessions {users}")
    lo, mean, sd, p50, p90, hi = q(
        "with s as (select user_id, count(*) n from e group by 1) "
        "select min(n), avg(n), stddev_pop(n), quantile_cont(n, 0.5), quantile_cont(n, 0.9), max(n) from s")[0]
    print(f"documents per session: min {lo}, mean {mean:.1f}, sd {sd:.1f} "
          f"(Poisson sd would be {mean ** 0.5:.1f}), p50 {p50}, p90 {p90}, max {hi}")
    days, span = q("select epoch(max(ts) - min(ts)) / 86400, "
                   "(select avg(s) from (select epoch(max(ts) - min(ts)) / 86400 s from e group by user_id)) from e")[0]
    print(f"the table spans {days:.1f} days; a session spans {span:.1f} days on average")
    mean_gap, gap_p50, gap_p90 = q(
        "with g as (select epoch(ts - lag(ts) over (partition by user_id order by ts)) / 3600 d from e) "
        "select avg(d), quantile_cont(d, 0.5), quantile_cont(d, 0.9) from g")[0]
    print(f"gap between a session's documents: mean {mean_gap:.1f} h, p50 {gap_p50:.1f} h, "
          f"p90 {gap_p90:.1f} h (exponential: p50 {mean_gap * 0.693:.1f}, p90 {mean_gap * 2.303:.1f})")
    for t, c, lo, hi in q("select event_type, count(*), min(length(props)), max(length(props)) "
                          "from e group by 1 order by 1"):
        print(f"topic {t}: share {c / n:.3f}, payload {lo}-{hi} B")


if __name__ == "__main__":
    main()
