"""Driver emulation: run every __spark_entry__ query vs its DuckDB oracle
at sf0.01 with a vanilla non-UTC SparkSession (the verify-skill recipe)."""
import os
import sys
import time

# the checkout this script lives in, wherever it is run from
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.environ["PYTHONPATH"] = ROOT
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"

spark = (
    SparkSession.builder.appName("drive-driver")
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "6g")
    .config("spark.executorEnv.PYTHONPATH", ROOT)
    .getOrCreate()
)

import __spark_entry__ as E  # noqa: E402

sys.path.insert(0, os.path.join(ROOT, "tests"))
from oracle_diff import compare, duck_connection  # noqa: E402

qs = E.queries()
oracles = E.oracle_sql()
only = set(sys.argv[1:])
if only:  # named rows may also be raw registrations fused into the roster
    qs = {**E._RAW_QUERIES, **qs}
    oracles = {**E._RAW_ORACLES, **oracles}
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}", flush=True)
        sys.exit(2)
    qs = {name: fn for name, fn in qs.items() if name in only}

rows = E.entry(spark).collect()
print(f"entry(): {len(rows)} rows", flush=True)

con = duck_connection(SF)
failed = []
for name, fn in qs.items():
    t0 = time.time()
    try:
        df = fn(spark, SF)
        if name in oracles:
            problems = compare(df, con, oracles[name], name)
        else:
            n = df.count()
            problems = [] if n >= 0 else [f"{name}: negative count?"]
    except Exception as exc:  # noqa: BLE001
        problems = [f"{name}: EXCEPTION {type(exc).__name__}: {exc}"]
    dt = time.time() - t0
    status = "ok" if not problems else "FAIL"
    print(f"{status:4s} {name:28s} {dt:6.1f}s"
          + ("" if not problems else " | " + "; ".join(p[:300] for p in problems)),
          flush=True)
    failed.extend(problems)

print(f"\n{len(qs)} queries, {len(failed)} problems")
sys.exit(1 if failed else 0)
