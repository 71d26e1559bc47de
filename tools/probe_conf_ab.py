"""Interleaved same-session A/B: a shared box shows ±30-50%
session-to-session variance, so comparing two separate probe sessions
confounds the effect with drift. This probe alternates the two sides
between timed runs of the same query inside ONE session (one warm-up per
side, then N rounds; the side that runs first alternates round by round)
and reports per side the median, the quartiles and the [min, max] run
range, plus in how many rounds B ran slower than A — drift hits both
sides equally.

Two kinds of A/B:
- ``key=valueA key=valueB`` flips one DYNAMIC SQLConf;
- ``persist=on persist=off`` and ``localCheckpoint=on
  localCheckpoint=off`` are device A/Bs: side B swaps that
  ``DataFrame`` method for the identity (no cache entry, no lineage
  cut, no conf set), side A runs the code as it stands.

Usage: python tools/probe_conf_ab.py [--rounds N] A B q_name ...
(N defaults to 3; $SPARK_GRAFT_SF_DIR selects the scale factor, default
sf0.1). Every run clears the cache first and is timed into the noop sink.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql.classic.dataframe import DataFrame
from telecom_competitor_analysis_spark.plans import QUERIES
from telecom_competitor_analysis_spark.session import get_spark

args = sys.argv[1:]
rounds = 3
if args[0] == "--rounds":
    rounds, args = int(args[1]), args[2:]
assert rounds >= 2, "quartiles need two rounds"
ka, va = args[0].split("=", 1)
kb, vb = args[1].split("=", 1)
assert ka == kb, "A/B must flip one key"
names = args[2:]

devices = {m: getattr(DataFrame, m) for m in ("persist", "localCheckpoint")}


def identity(self, *args, **kwargs):
    return self


def use(side):
    """Put the session (or the DataFrame class) on one side of the A/B."""
    if ka in devices:
        on = (va if side == "A" else vb) == "on"
        setattr(DataFrame, ka, devices[ka] if on else identity)
    else:
        spark.conf.set(ka, va if side == "A" else vb)


def run(fn):
    # cold-action, as bench.py: no run reuses another's persist()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="probe_conf_ab")
spark.range(1).count()
print(f"loadavg {os.getloadavg()[0]:.2f}  {ka}: A={va} B={vb}  "
      f"rounds={rounds}", flush=True)

tot = {"A": 0.0, "B": 0.0}
for n in names:
    fn = QUERIES[n]
    runs = {"A": [], "B": []}
    for side in ("A", "B"):
        use(side)
        run(fn)
    for r in range(rounds):
        for side in ("A", "B") if r % 2 == 0 else ("B", "A"):
            use(side)
            runs[side].append(run(fn))
    med = {s: statistics.median(v) for s, v in runs.items()}
    for s in tot:
        tot[s] += med[s]
    cols = "  ".join(
        f"{s}: med={med[s]:.3f} q1..q3={q[0]:.3f}..{q[2]:.3f} "
        f"[{min(v):.3f}, {max(v):.3f}]"
        for s, v in runs.items()
        for q in [statistics.quantiles(v, n=4)]
    )
    slower = sum(b > a for a, b in zip(runs["A"], runs["B"]))
    print(f"{n:32s} {cols}  ratio={med['B'] / med['A']:.2f}  "
          f"B slower {slower}/{rounds}", flush=True)
use("A")
print(f"TOTAL (medians) A={tot['A']:.3f} B={tot['B']:.3f}", flush=True)
