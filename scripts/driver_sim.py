"""Simulates the external driver: imports __spark_entry__ by path, uses a
bare SparkSession (no helpful configs), runs entry() + every query at the
given sf dir, and order-insensitively compares against the DuckDB oracles.

Usage: python scripts/driver_sim.py [sf_dir] [--hostile] [--only=q1,q2]
  Runs on local[$SPARK_GRAFT_CPUS] (default: all cores).
  --hostile: non-UTC session timezone + Arrow off + 200 shuffle partitions
             (worst-case driver config).
  --only:    comma-separated query names — run just those (targeted
             re-check while iterating; the pass gate is the FULL run).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
HOSTILE = "--hostile" in sys.argv
ONLY = None
for _a in sys.argv[1:]:
    if _a.startswith("--only="):
        ONLY = set(_a[len("--only="):].split(","))

spec = importlib.util.spec_from_file_location("__spark_entry__", f"{REPO}/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession  # noqa: E402

# Python workers import query UDFs by module path, so they need the repo
# on their path wherever the sim is launched from.
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

b = SparkSession.builder.master(f"local[{CPUS}]").appName("driver-sim")
if HOSTILE:
    b = (
        b.config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.execution.arrow.pyspark.enabled", "false")
        .config("spark.sql.shuffle.partitions", "200")
    )
spark = b.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")


def norm_cell(x):
    if x is None:
        return "NULL"
    if isinstance(x, float):
        if math.isnan(x):
            return "NULL"
        return repr(x)
    return str(x)


# DuckDB types that round-trip cleanly through the driver's pandas
# canonicalizer.  HUGEINT (what sum(int) returns by default) and DECIMAL
# do NOT — pandas renders them as float64/object and the value hash
# diverges from Spark's bigint/double even when the values are identical.
# Every oracle must CAST aggregates into one of these.
PORTABLE_ORACLE_TYPES = {
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT",
    "DOUBLE", "FLOAT",
    "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP", "TIMESTAMP_NS",
    "TIMESTAMP WITH TIME ZONE",
}


def oracle_rows_via_pandas(ores):
    """Fetch oracle results the way the REAL driver does — through pandas
    (`.df()`), not `fetchall()` — so dtype artifacts (HUGEINT -> float64,
    DECIMAL -> object) surface here instead of only in the driver's run.

    One deliberate reconciliation: an INT-family column containing NULLs
    is upcast by pandas to float64 ("2.0"); the real driver's r2 results
    prove it treats that as equal to Spark's int ("2"), so such columns
    are restored to nullable Int64 before hashing.  HUGEINT/DECIMAL are
    NOT reconciled — they fail the PORTABLE_ORACLE_TYPES gate instead,
    which is exactly the class of bug the r2 driver flagged."""
    import numpy as np
    import pandas as pd

    int_family = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT"}
    otypes = [str(t) for t in ores.types]
    cols = list(ores.columns)
    pdf = ores.df()
    for c, t in zip(cols, otypes):
        if t in int_family and str(pdf[c].dtype) == "float64":
            pdf[c] = pdf[c].astype("Int64")
        if t == "DATE" and str(pdf[c].dtype).startswith("datetime64"):
            # DuckDB DATE surfaces as midnight datetime64 in pandas;
            # Spark collects datetime.date — normalize so str() agrees
            # ('1995-03-15', not '1995-03-15 00:00:00')
            pdf[c] = pdf[c].dt.date

    def _cell(x):
        if isinstance(x, (list, tuple, np.ndarray, dict)):
            return x
        try:
            if pd.isna(x):
                return None
        except (TypeError, ValueError):
            pass
        return x

    rows = [tuple(_cell(x) for x in r) for r in pdf.itertuples(index=False, name=None)]
    return rows, list(pdf.columns)


def unhashable_cols(rows, cols):
    """The real driver canonicalizes results through pandas sort_values,
    which factorizes object columns — a list/dict/array cell raises
    'unhashable type' and records the whole query as ERR.  This screens
    EVERY query (rows-only included) for that crash."""
    bad = set()
    for r in rows[:200]:
        for c, x in zip(cols, r):
            try:
                hash(x)
            except TypeError:
                bad.add(c)
    return sorted(bad)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


t0 = time.time()
edf = mod.entry(spark)
n = edf.count()
print(f"entry(): {n} rows, schema={[f.name for f in edf.schema]}, {time.time()-t0:.1f}s")
assert n > 0

results = {}
oracles = mod.oracle_sql()
for name, fn in mod.queries().items():
    if ONLY is not None and name not in ONLY:
        continue
    t0 = time.time()
    try:
        sdf = fn(spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        unhashable = unhashable_cols(srows, scols)
        if unhashable:
            results[name] = {
                "status": "UNHASHABLE",
                "rows": len(srows),
                "cols": unhashable,
                "sec": round(time.time() - t0, 2),
            }
            continue
        if name not in oracles:
            results[name] = {"status": "rows-only", "rows": len(srows), "sec": round(time.time() - t0, 2)}
            continue
        ores = con.sql(oracles[name])
        otypes = [str(t) for t in ores.types]
        nonportable = [
            f"{c}:{t}" for c, t in zip(ores.columns, otypes)
            if t.split("(")[0].strip() not in PORTABLE_ORACLE_TYPES
        ]
        if nonportable:
            # gate BEFORE materializing through pandas: the exotic dtype
            # is exactly what could crash the conversion and mask this
            # precise diagnostic behind a generic ERROR
            results[name] = {
                "status": "ORACLE_TYPE",
                "rows": len(srows),
                "nonportable": nonportable,
                "sec": round(time.time() - t0, 2),
            }
            continue
        orows, ocols = oracle_rows_via_pandas(ores)
        # normalize python datetimes both sides via str()
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
        ok_hash = sh == oh
        results[name] = {
            "status": "MATCH" if (ok_cols and ok_count and ok_hash) else "MISMATCH",
            "rows": len(srows),
            "cols_ok": ok_cols,
            "count_ok": ok_count,
            "hash_ok": ok_hash,
            "sec": round(time.time() - t0, 2),
        }
    except Exception as e:  # noqa: BLE001
        results[name] = {"status": "ERROR", "error": str(e)[:200], "sec": round(time.time() - t0, 2)}
    finally:
        # stream each verdict as it lands (finally: the early `continue`s
        # for UNHASHABLE/rows-only/ORACLE_TYPE must emit too): long sweeps
        # (sf1) can outlive their timeout, and an end-only dump loses
        # every finished query with them
        print(f"## {name}: {results[name]['status']} ({results[name]['sec']}s)", flush=True)

bad = {k: v for k, v in results.items() if v["status"] not in ("MATCH", "rows-only")}

print(json.dumps(results, indent=1))
print(f"\n{len(results)} queries: {sum(1 for v in results.values() if v['status']=='MATCH')} MATCH, "
      f"{sum(1 for v in results.values() if v['status']=='rows-only')} rows-only, {len(bad)} BAD")
sys.exit(1 if bad else 0)
