"""Determinism harness: run every registry query twice — at the session's
default spark.sql.shuffle.partitions (its task slots) and at 7, so
partial-aggregation and merge orders differ — and compare results
bitwise with tools/exact_sweep.py's comparator. Catches the two hazards
the tolerance-based oracle gate can miss:

  * under-tie-broken ORDER BY ... LIMIT (row selection flips with ties),
  * round() sitting on a .00005 boundary of an order-sensitive float sum.

Usage: python tools/determinism_check.py [name ...]  (from anywhere)
"""
import os
import sys

from exact_sweep import diff

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def main() -> None:
    sys.path.insert(0, _REPO)
    os.chdir(_REPO)
    import __spark_entry__ as e
    from my_flink_1_10_2_spark.session import get_spark

    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    default = spark.conf.get("spark.sql.shuffle.partitions")
    qs = e.queries()
    bad = []
    # optional CLI args: only check the named queries
    names = sys.argv[1:] if len(sys.argv) > 1 else list(qs)
    for i, name in enumerate(names):
        try:
            a = qs[name](spark, SF).toPandas()
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = qs[name](spark, SF).toPandas()
            problems = diff(a, b)
            if problems:
                bad.append((name, "; ".join(problems)))
                print(f"NONDET {name}: {'; '.join(problems)}", flush=True)
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
