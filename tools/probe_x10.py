"""x10 replication probe: warm-up + best-of-2, noop sink, local[32]."""
import sys, time
sys.path.insert(0, '/root/repo')
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

names = sys.argv[1:]
spark = get_spark(app_name="probe_x10")
spark.range(1).count()
for sf_dir in ["/root/testdata/sf0.1", "/tmp/sfx10"]:
    for n in names:
        fn = QUERIES[n]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        print(f"{sf_dir:22s} {n:28s} {best:.2f}s", flush=True)
