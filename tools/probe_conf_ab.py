"""Interleaved same-session config A/B: a shared box shows ±30-50%
session-to-session variance, so comparing two separate probe sessions
confounds conf effect with drift. For a DYNAMIC SQLConf this probe
alternates the conf between timed runs of the same query inside ONE
session (A,B,A,B,A,B after one warm-up per side) and reports best-of-3
per side with the side's [min, max] run range — drift hits both sides
equally.

Usage: python tools/probe_conf_ab.py key=valueA key=valueB q_name ...
($SPARK_GRAFT_SF_DIR selects the scale factor, default sf0.1)
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

ka, va = sys.argv[1].split("=", 1)
kb, vb = sys.argv[2].split("=", 1)
assert ka == kb, "A/B must flip one key"
names = sys.argv[3:]

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="probe_conf_ab")
spark.range(1).count()
print(f"loadavg {os.getloadavg()[0]:.2f}  {ka}: A={va} B={vb}", flush=True)

tot = {"A": 0.0, "B": 0.0}
for n in names:
    fn = QUERIES[n]
    runs = {"A": [], "B": []}
    for side, v in (("A", va), ("B", vb)):
        spark.conf.set(ka, v)
        spark.catalog.clearCache()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for _ in range(3):
        for side, v in (("A", va), ("B", vb)):
            spark.conf.set(ka, v)
            # cold-action, as bench.py: no side reuses the other's persist()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[side].append(time.perf_counter() - t0)
    a, b = min(runs["A"]), min(runs["B"])
    tot["A"] += a
    tot["B"] += b
    ra = f"[{min(runs['A']):.3f}, {max(runs['A']):.3f}]"
    rb = f"[{min(runs['B']):.3f}, {max(runs['B']):.3f}]"
    print(f"{n:32s} A={a:.3f} {ra} B={b:.3f} {rb}  ratio={b / a:.2f}",
          flush=True)
print(f"TOTAL A={tot['A']:.3f} B={tot['B']:.3f}", flush=True)
