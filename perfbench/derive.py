#!/usr/bin/env python3
"""Measure the properties of the test fixture's `events` and `documents`
tables that gen.py copies, and print the Zipf exponent gen.py fits to the
reference input.

    python3 perfbench/derive.py <fixture dir, e.g. the sf0.1 dir of TESTDATA.md>

The benchmark does not run this; it records where gen.py's constants come
from (perfbench/METRICS.md lists its output).
"""
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

QUERIES = {
    "events: rows, users, span, values": """
        SELECT count(*) AS rows, count(DISTINCT user_id) AS users,
               min(user_id) AS min_user, max(user_id) AS max_user,
               min(ts) AS first_ts, max(ts) AS last_ts,
               avg(value) AS mean_value, stddev(value) AS sd_value,
               median(value) AS median_value
        FROM '{d}/events.parquet'""",
    "events: rows behind the running max ts, in event_id order": """
        WITH e AS (SELECT ts, max(ts) OVER (ORDER BY event_id ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
                   FROM '{d}/events.parquet')
        SELECT count(*) FILTER (WHERE ts < mx) AS behind,
               count(*) FILTER (WHERE ts < mx - INTERVAL 10 MINUTE)
                 AS behind_watermark
        FROM e""",
    "events: gap to the previous event (s)": """
        SELECT avg(g) AS mean_gap, median(g) AS median_gap FROM (
          SELECT epoch(ts - lag(ts) OVER (ORDER BY event_id)) AS g
          FROM '{d}/events.parquet')""",
    "events: types": """
        SELECT event_type, count(*) AS n FROM '{d}/events.parquet'
        GROUP BY 1 ORDER BY 1""",
    "documents: words per document": """
        SELECT count(*) AS docs, min(n) AS min_words,
               quantile_cont(n, [0.25, 0.5, 0.75]) AS quartiles,
               max(n) AS max_words, sum(n) AS tokens
        FROM (SELECT len(regexp_split_to_array(trim(regexp_replace(
                lower(text), '[^a-z]+', ' ', 'g')), ' ')) AS n
              FROM '{d}/documents.parquet')""",
}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    con = duckdb.connect()
    for title, sql in QUERIES.items():
        print(f"-- {title}")
        print(con.sql(sql.format(d=sys.argv[1])))
    print(f"Zipf exponent fitted to the reference's top-5 share: {gen.ZIPF_S}")


if __name__ == "__main__":
    main()
