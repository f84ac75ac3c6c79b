"""Strict bitwise parity sweep: run every registry query AND its DuckDB
oracle at sf0.01 and compare values exactly (no tolerance) — stricter
than both tests/test_oracle_parity.py (rel_tol 1e-6) and the driver's
hash gate (rounded hashing). Use it to catch float-discipline
regressions before the driver does.

Usage: python tools/exact_sweep.py [--sf SF] [name ...]  (from repo root)
       With names: sweep only those registry queries (targeted re-check
       after touching an operator).  Without: full registry.
       --sf 0.1 sweeps at bench scale (broadcast thresholds and
       partial-agg ordering are scale-dependent; the 2x bench gate runs
       at sf0.1 but the driver only grades at sf0.01).
"""
import os, sys, traceback

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.chdir(_REPO)

# Spark's console progress bar would share lines with this script's
# progress and summary lines (it writes \r-joined bars to the same log).
os.environ["PYSPARK_SUBMIT_ARGS"] = (
    "--conf spark.ui.showConsoleProgress=false "
    + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
)

import duckdb
import numpy as np, pandas as pd
import __spark_entry__ as e
from my_flink_1_10_2_spark.session import get_spark

_args = sys.argv[1:]
_sf = "0.01"
if "--sf" in _args:
    i = _args.index("--sf")
    _sf = _args[i + 1]
    del _args[i : i + 2]
SF = f'/root/testdata/sf{_sf}'
assert os.path.isdir(SF), f"no testdata dir {SF}"
spark = get_spark(master='local[16]'); spark.sparkContext.setLogLevel('ERROR')
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders',
          'lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
qs, osql = e.queries(), e.oracle_sql()

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == 'M':
            df[c] = df[c].map(lambda x: None if pd.isna(x) else x.isoformat())
        elif k == 'O':
            # REJECT (don't tuple-convert) non-scalar cells: the driver's
            # canonicalizer sorts with pandas and dies on array/map/struct
            # columns, so this sweep must predict the driver's verdict.
            if df[c].map(lambda v: isinstance(v, (list, tuple, dict, np.ndarray))).any():
                raise TypeError(
                    f"non-scalar output column {c!r} (array/map/struct): "
                    "driver canon cannot hash it — reshape the query output"
                )
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

bad = []
names = [n for n in qs if n in osql]
if _args:
    want = set(_args)
    unknown = want - set(names)
    if unknown:
        print(f"WARNING: not in oracle registry: {sorted(unknown)}", flush=True)
    names = [n for n in names if n in want]
for i, name in enumerate(names):
    try:
        sdf = canon(qs[name](spark, SF).toPandas())
        ddf = canon(con.execute(osql[name]).fetchdf())
        status = []
        if list(sdf.columns) != list(ddf.columns):
            status.append(f"schema {list(sdf.columns)} vs {list(ddf.columns)}")
        elif len(sdf) != len(ddf):
            status.append(f"rows {len(sdf)} vs {len(ddf)}")
        else:
            for c in sdf.columns:
                a, b = sdf[c], ddf[c]
                if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                    av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
                    both_nan = np.isnan(av) & np.isnan(bv)
                    if not np.all(both_nan | (av == bv)):
                        mx = np.nanmax(np.abs(av - bv))
                        status.append(f"col {c} float mismatch max_abs_diff={mx:.3e}")
                else:
                    if not a.astype(str).equals(b.astype(str)):
                        status.append(f"col {c} value mismatch")
        if status:
            bad.append((name, "; ".join(status)))
            print(f"MISMATCH {name}: {'; '.join(status)}", flush=True)
    except Exception as ex:
        bad.append((name, f"ERROR {type(ex).__name__}: {str(ex)[:150]}"))
        print(f"ERROR {name}: {str(ex)[:200]}", flush=True)
    if (i+1) % 25 == 0:
        print(f"... {i+1}/{len(names)} done", flush=True)
print(f"SWEEP DONE: {len(names)} queries, {len(bad)} not hash-exact")
for n, s in bad: print(" -", n, "=>", s)
