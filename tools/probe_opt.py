"""Round-13 optimization probe: per-query isolated timing + plan capture.

Usage: python tools/probe_opt.py [--plans-tag before|after] q_name [q_name ...]

For each named query at $SPARK_GRAFT_SF_DIR (default sf0.1), on
local[$SPARK_GRAFT_CPUS] (default 32): one warm-up + best-of-3 through the
noop sink (the bench methodology), and — when --plans-tag is given — the
``explain("formatted")`` output written to plans/r13/<name>_<tag>.txt so
plan claims in OPTIMIZATION_r13.md are checkable without running Spark.
"""
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

args = sys.argv[1:]
tag = None
if args and args[0] == "--plans-tag":
    tag = args[1]
    args = args[2:]
names = args

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="probe_opt")
spark.range(1).count()
print(f"loadavg {os.getloadavg()[0]:.2f}  sf_dir={sf_dir}", flush=True)

for n in names:
    fn = QUERIES[n]
    if tag:
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        os.makedirs("/root/repo/plans/r13", exist_ok=True)
        with open(f"/root/repo/plans/r13/{n}_{tag}.txt", "w") as fh:
            fh.write(buf.getvalue())
    spark.sparkContext.setJobDescription(f"probe_opt:{n}")
    # r13: match bench.py's cold-action methodology — clearCache before
    # every timed run so persist-carrying queries pay materialization
    spark.catalog.clearCache()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    runs.sort()
    print(f"{n:32s} best={runs[0]:.3f}  spread={[round(r,3) for r in runs]}",
          flush=True)
spark.sparkContext.setJobDescription(None)
