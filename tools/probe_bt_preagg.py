"""Measure the Bradley-Terry multiplicity pre-agg lever (r11 VERDICT
item 6): on a duplicate-heavy corpus the `spark.graft.btPreagg` flag
collapses (part, supplier, price-cents) triples to multiplicities
BEFORE the comparison join, cutting pair volume by the duplicate
factor squared. The default xN replication (`tools/make_xn.py N`
WITHOUT --grow-dims) is exactly that corpus: lineitem replicas keep
part/supp keys AND prices, so every triple's multiplicity is N.

Usage: `python tools/probe_bt_preagg.py [/tmp/sfx10]`
Prints, for the base sf0.1 and the duplicate-heavy dir:
  - raw vs pre-agg comparison-join pair volume (DuckDB exact counts)
  - q_bradley_terry wall seconds flagged off vs on (warm-up +
    best-of-2, noop sink, local[32])
"""
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

xdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfx10"

con = duckdb.connect()
for sf_dir in ["/root/testdata/sf0.1", xdir]:
    raw, pre = con.execute(
        f"""
        WITH t AS (
            SELECT l_partkey AS p, l_suppkey AS s,
                   CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
                   COUNT(*) AS m
            FROM '{sf_dir}/lineitem.parquet'
            GROUP BY 1, 2, 3
        )
        SELECT CAST(SUM(a.m * b.m) AS BIGINT) AS raw_pairs,
               CAST(COUNT(*) AS BIGINT) AS preagg_pairs
        FROM t a JOIN t b
          ON a.p = b.p AND a.s < b.s AND a.pc != b.pc
        """
    ).fetchone()
    print(
        f"{sf_dir:22s} raw_pairs={raw:>12,} preagg_pairs={pre:>12,} "
        f"cut={raw / max(pre, 1):.1f}x",
        flush=True,
    )

spark = get_spark(app_name="probe_bt_preagg")
spark.range(1).count()
fn = QUERIES["q_bradley_terry"]
for sf_dir in ["/root/testdata/sf0.1", xdir]:
    for flag in ["false", "true"]:
        spark.conf.set("spark.graft.btPreagg", flag)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        print(
            f"{sf_dir:22s} btPreagg={flag:5s} {best:.2f}s", flush=True
        )
spark.conf.set("spark.graft.btPreagg", "false")
