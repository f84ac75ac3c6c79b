"""Determinism harness: run every registry query twice — at the session's
default spark.sql.shuffle.partitions (its task slots) and at 7, so
partial-aggregation and merge orders differ — and compare results
bitwise. Catches the two hazards the tolerance-based oracle gate can
miss:

  * under-tie-broken ORDER BY ... LIMIT (row selection flips with ties),
  * round() sitting on a .00005 boundary of an order-sensitive float sum.

Usage: python tools/determinism_check.py  (from anywhere)
"""
import os, sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.chdir(_REPO)

import numpy as np
import pandas as pd

import __spark_entry__ as e
from my_flink_1_10_2_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "M":
            df[c] = df[c].map(lambda x: None if pd.isna(x) else x.isoformat())
        elif k == "O":
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    default = spark.conf.get("spark.sql.shuffle.partitions")
    qs = e.queries()
    bad = []
    # optional CLI args: only check the named queries
    names = sys.argv[1:] if len(sys.argv) > 1 else list(qs)
    for i, name in enumerate(names):
        try:
            a = canon(qs[name](spark, SF).toPandas())
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = canon(qs[name](spark, SF).toPandas())
            if list(a.columns) != list(b.columns) or len(a) != len(b):
                bad.append((name, f"shape {a.shape} vs {b.shape}"))
                print(f"NONDET {name}: shape {a.shape} vs {b.shape}", flush=True)
                continue
            for c in a.columns:
                x, y = a[c], b[c]
                if x.dtype.kind == "f":
                    xv, yv = x.to_numpy(), y.to_numpy()
                    ok = np.all((np.isnan(xv) & np.isnan(yv)) | (xv == yv))
                else:
                    ok = x.astype(str).equals(y.astype(str))
                if not ok:
                    bad.append((name, f"col {c} differs across partition counts"))
                    print(f"NONDET {name}: col {c}", flush=True)
                    break
        except Exception as ex:
            bad.append((name, f"ERROR {type(ex).__name__}: {str(ex)[:120]}"))
            print(f"ERROR {name}: {str(ex)[:160]}", flush=True)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", default)
        if (i + 1) % 25 == 0:
            print(f"... {i+1}/{len(names)} done", flush=True)
    print(f"DETERMINISM CHECK DONE: {len(names)} queries, {len(bad)} unstable")
    for n, s in bad:
        print(" -", n, "=>", s)


if __name__ == "__main__":
    main()
