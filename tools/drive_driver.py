"""Driver simulation: bare session, __spark_entry__ contract, DuckDB compare.

The session runs on ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` if unset).
Like the driver's, it is bare: it keeps Spark's default codegen cache of
100 generated classes, not ``session.get_spark``'s
``CODEGEN_CACHE_ENTRIES``. That cap is a static conf, fixed when the
session starts, so ``sources/readers.load_table`` cannot pin it the way
it pins the runtime confs; the cache evicts classes as the queries run,
and the per-query walls printed here include their recompiles."""
import importlib.util, os, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sf_dir = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession

master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
spark = SparkSession.builder.master(master).getOrCreate()

from tests.oracle_utils import compare, duckdb_conn

n_rows = mod.entry(spark).count()
assert n_rows > 0, "entry() returned 0 rows"
print(f"entry OK ({n_rows} rows)")

Q, O = mod.queries(), mod.oracle_sql()
args = [a for a in sys.argv[1:]]
if "--all" in args:
    names = [n for n in Q if n in O]
elif args:
    names = args
else:
    names = list(Q)[:50]

con = duckdb_conn(sf_dir)
fails = []
for name in names:
    t0 = time.time()
    try:
        df = Q[name](spark, sf_dir)
        if name in O:
            ok, msg = compare(df, con.execute(O[name]).df())
        else:
            ok, msg = df.count() >= 0, "rows-only"
    except Exception as ex:  # noqa: BLE001
        ok, msg = False, f"ERR {ex}"
    dt = time.time() - t0
    status = "OK" if ok else f"FAIL {msg[:300]}"
    print(f"{name:32s} {status} {dt:.2f}s")
    if not ok:
        fails.append(name)
print(f"{len(names) - len(fails)}/{len(names)} green")
sys.exit(1 if fails else 0)
