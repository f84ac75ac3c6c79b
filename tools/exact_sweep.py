"""Strict bitwise parity sweep: run every registry query AND its DuckDB
oracle at sf0.01 and compare values exactly (no tolerance) — stricter
than both tests/test_oracle_parity.py (rel_tol 1e-6) and the driver's
hash gate (rounded hashing). Use it to catch float-discipline
regressions before the driver does.

The one exact result comparator: :func:`canon` and :func:`diff` are also
what tools/determinism_check.py compares with.

Usage: python tools/exact_sweep.py [--sf SF] [name ...]  (from repo root)
       With names: sweep only those registry queries (targeted re-check
       after touching an operator).  Without: full registry.
       --sf 0.1 sweeps at bench scale (broadcast thresholds and
       partial-agg ordering are scale-dependent; the 2x bench gate runs
       at sf0.1 but the driver only grades at sf0.01).
"""
import os
import sys

import numpy as np
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """The canonical form of a result: columns sorted by name, timestamps
    as ISO strings, rows sorted by every column.  Raises TypeError on a
    non-scalar (array/map/struct) cell: the driver's canonicalizer sorts
    with pandas and dies on those, so the registry output contract
    forbids them."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        k = df[c].dtype.kind
        if k == 'M':
            df[c] = df[c].map(lambda x: None if pd.isna(x) else x.isoformat())
        elif k == 'O':
            if df[c].map(lambda v: isinstance(v, (list, tuple, dict, np.ndarray))).any():
                raise TypeError(
                    f"non-scalar output column {c!r} (array/map/struct): "
                    "driver canon cannot hash it — reshape the query output"
                )
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def diff(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Exact differences between two results after :func:`canon`; ``[]``
    when they are equal (NaN equals NaN).  Reports the schema, else the
    row count, else per mismatching column its mismatch count, first
    mismatching pair and, for float columns, the max absolute
    difference."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return [f"schema {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    out = []
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == 'f' or b.dtype.kind == 'f':
            av, bv = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            bad = ~((np.isnan(av) & np.isnan(bv)) | (av == bv))
            extra = f" max_abs_diff={np.nanmax(np.abs(av - bv)):.3e}" if bad.any() else ""
        else:
            bad = (a.astype(str) != b.astype(str)).to_numpy()
            extra = ""
        if bad.any():
            i = int(bad.argmax())
            out.append(
                f"col {c}: {int(bad.sum())} mismatches, first {a[i]!r} vs {b[i]!r}{extra}"
            )
    return out


def oracle(sf_dir: str):
    """A DuckDB connection with one view per catalog table of ``sf_dir``."""
    import duckdb

    from my_flink_1_10_2_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main() -> None:
    sys.path.insert(0, _REPO)
    os.chdir(_REPO)
    # Spark's console progress bar would share lines with this script's
    # progress and summary lines (it writes \r-joined bars to the same log).
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    import __spark_entry__ as e
    from my_flink_1_10_2_spark.session import get_spark

    args = sys.argv[1:]
    sf = "0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        del args[i : i + 2]
    sf_dir = f'/root/testdata/sf{sf}'
    if not os.path.isdir(sf_dir):
        sys.exit(f"no testdata dir {sf_dir}")
    spark = get_spark(master='local[16]')
    spark.sparkContext.setLogLevel('ERROR')
    con = oracle(sf_dir)
    qs, osql = e.queries(), e.oracle_sql()

    bad = []
    names = [n for n in qs if n in osql]
    if args:
        want = set(args)
        unknown = want - set(names)
        if unknown:
            print(f"WARNING: not in oracle registry: {sorted(unknown)}", flush=True)
        names = [n for n in names if n in want]
    for i, name in enumerate(names):
        try:
            status = diff(qs[name](spark, sf_dir).toPandas(), con.execute(osql[name]).fetchdf())
            if status:
                bad.append((name, "; ".join(status)))
                print(f"MISMATCH {name}: {'; '.join(status)}", flush=True)
        except Exception as ex:
            bad.append((name, f"ERROR {type(ex).__name__}: {str(ex)[:150]}"))
            print(f"ERROR {name}: {str(ex)[:200]}", flush=True)
        if (i+1) % 25 == 0:
            print(f"... {i+1}/{len(names)} done", flush=True)
    print(f"SWEEP DONE: {len(names)} queries, {len(bad)} not hash-exact")
    for n, s in bad:
        print(" -", n, "=>", s)


if __name__ == "__main__":
    main()
