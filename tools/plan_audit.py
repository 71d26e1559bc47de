"""Round-12 full-surface plan audit: one row of plan-shape statistics per
bench-listed query, so EVERY operator is examined (guide §1/§7.2) without
executing anything.

For each query in bench.py's HEADLINE + HEADLINE_EXT at $SPARK_GRAFT_SF_DIR
(default sf0.1), capture ``explain("formatted")`` and count the signals the
optimization guide says to look for:

- Exchange nodes (shuffles) and their kinds (hash / single-partition / rr)
- join strategies (BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin /
  BroadcastNestedLoop / Cartesian)
- Python-boundary nodes (BatchEvalPython / ArrowEvalPython / MapInArrow /
  MapInPandas / FlatMapGroupsInPandas / Cogrouped)
- single-partition Exchanges (SinglePartition) — the global-sort/window smell
- parquet scans and how many ReadSchema columns each carries, and whether
  PushedFilters is non-empty when a Filter sits above the scan
- Window nodes and WindowGroupLimit (partial top-k) presence

Output: TSV to stdout (one line per query) + a flag summary at the end.
Explain-only — no actions run; safe to run on a busy box.
"""
import os
import re
import sys
import io
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")
import bench  # noqa: E402  (HEADLINE lists)
from telecom_competitor_analysis_spark.plans import QUERIES  # noqa: E402
from telecom_competitor_analysis_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="plan_audit")

names = [n for n in bench.HEADLINE + bench.HEADLINE_EXT if n in QUERIES]
print(f"# plan audit over {len(names)} queries at {sf_dir}", file=sys.stderr)

COLS = [
    "query", "exchanges", "single_part", "smj", "shj", "bhj", "bnlj",
    "cartesian", "py_nodes", "windows", "wgl", "scans", "max_readschema",
    "rowsort_global",
]
print("\t".join(COLS))
flags: list[str] = []
for n in names:
    try:
        df = QUERIES[n](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
    except Exception as exc:  # noqa: BLE001
        print(f"{n}\tERR {type(exc).__name__}: {exc}"[:200])
        flags.append(f"{n}: ERR")
        continue
    exch = len(re.findall(r"\bExchange\b", p))
    single = len(re.findall(r"Exchange SinglePartition", p))
    smj = len(re.findall(r"SortMergeJoin", p))
    shj = len(re.findall(r"ShuffledHashJoin", p))
    bhj = len(re.findall(r"BroadcastHashJoin", p))
    bnlj = len(re.findall(r"BroadcastNestedLoopJoin", p))
    cart = len(re.findall(r"CartesianProduct", p))
    py = len(re.findall(
        r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas"
        r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|PythonMapInArrow", p))
    win = len(re.findall(r"\bWindow\b", p))
    wgl = len(re.findall(r"WindowGroupLimit", p))
    scans = len(re.findall(r"Scan parquet", p))
    # widest ReadSchema (by column count) across parquet scans
    widths = [s.count(",") + 1 for s in
              re.findall(r"ReadSchema: struct<([^>]*)>", p)]
    maxw = max(widths) if widths else 0
    # a global Sort right under an Exchange SinglePartition = whole-data
    # single-task sort (TakeOrderedAndProject is fine and not counted)
    gsort = len(re.findall(r"Sort .*\n.*Exchange SinglePartition", p))
    print("\t".join(str(x) for x in [
        n, exch, single, smj, shj, bhj, bnlj, cart, py, win, wgl, scans,
        maxw, gsort,
    ]))
    if cart:
        flags.append(f"{n}: CartesianProduct x{cart}")
    if bnlj > 1:
        flags.append(f"{n}: BroadcastNestedLoopJoin x{bnlj}")
    if py:
        flags.append(f"{n}: python-eval x{py}")
    if single > 2:
        flags.append(f"{n}: SinglePartition exchanges x{single}")
    if scans > 6:
        flags.append(f"{n}: {scans} parquet scans (re-derived subtree?)")

print("\n# FLAGS", file=sys.stderr)
for f in flags:
    print(f, file=sys.stderr)
