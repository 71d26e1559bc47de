"""Core-scaling probe at the x10 dataset (r12 VERDICT item 9): run the
named queries at /tmp/sfx10 on local[$SPARK_GRAFT_CPUS], cold-action
methodology (clearCache before each timed run), warm-up + best-of-2.
Run once with SPARK_GRAFT_CPUS=32 and once with 8; the per-query wall
ratio at 10x data is the scale-credible parallelism signal the sf0.1
bench cannot give (there every query is fixed-overhead-bound)."""
import os, sys, time

sys.path.insert(0, "/root/repo")
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

names = sys.argv[1:]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/sfx10")
spark = get_spark(app_name="probe_x10_cores")
spark.range(1).count()
cpus = os.environ.get("SPARK_GRAFT_CPUS", "?")
print(f"cpus={cpus} sf_dir={sf_dir} loadavg={os.getloadavg()[0]:.2f}", flush=True)
for n in names:
    fn = QUERIES[n]
    spark.catalog.clearCache()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    print(f"{n:28s} {best:.2f}", flush=True)
