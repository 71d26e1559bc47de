"""Round-12 config A/B probe: time a query list under session-conf
overrides (guide §1.2 step 3 — config only after algorithm/per-task work).

Usage: python tools/probe_conf.py [-c key=value ...] q_name [q_name ...]

Same methodology as probe_opt.py (warm-up + best-of-3, noop sink), but the
session is built with the given extra conf — startable only in a fresh
process (Spark session confs like codec/join prefs are fixed at session
creation or honored at plan time; getOrCreate would reuse a live session,
so run one probe per process).
"""
import os
import sys
import time

sys.path.insert(0, "/root/repo")
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

args = sys.argv[1:]
conf = {}
names = []
i = 0
while i < len(args):
    if args[i] == "-c":
        k, _, v = args[i + 1].partition("=")
        conf[k] = v
        i += 2
    else:
        names.append(args[i])
        i += 1

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="probe_conf", extra_conf=conf or None)
spark.range(1).count()
print(f"loadavg {os.getloadavg()[0]:.2f}  conf={conf}", flush=True)

total = 0.0
for n in names:
    fn = QUERIES[n]
    spark.sparkContext.setJobDescription(f"probe_conf:{n}")
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    runs.sort()
    total += runs[0]
    print(f"{n:32s} best={runs[0]:.3f}", flush=True)
print(f"TOTAL best-of-3 sum: {total:.3f}", flush=True)
