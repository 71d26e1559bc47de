"""xN replication probe (generalizes probe_x10.py): warm-up +
best-of-2, noop sink, local[32]. Usage:
`python tools/probe_xn.py /tmp/sfx100 q_a q_b ...` — compares against
sf0.1 so the printed pair is a direct ratio at N = dir's factor.

NOTE for ×100 runs: orders/lineitem replicas offset their order keys
but keep part/supp keys (dims don't grow), so rows-per-part grows ×N —
probe only queries whose pair/window volume is collapsed before the
blowup (quotes-collapsed preference pairs yes; raw Bradley-Terry
comparisons deliberately NOT)."""
import sys
import time

sys.path.insert(0, "/root/repo")
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

xdir = sys.argv[1]
names = sys.argv[2:]
spark = get_spark(app_name="probe_xn")
spark.range(1).count()
for sf_dir in ["/root/testdata/sf0.1", xdir]:
    for n in names:
        fn = QUERIES[n]
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            print(f"{sf_dir:22s} {n:28s} {best:.2f}s", flush=True)
        except Exception as exc:  # noqa: BLE001 — isolate per query
            print(f"{sf_dir:22s} {n:28s} ERR {type(exc).__name__}", flush=True)
