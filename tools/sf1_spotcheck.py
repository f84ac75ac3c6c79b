"""sf1 spot-check: run the N heaviest bench queries once at
a 10x-bench scale directory (see tools/make_sf_scale.py) and record wall
time and plan-shape diffs vs sf0.1 — the size-dependent plan flips
(broadcast-threshold crossings, AQE skew splits) the driver's sf0.1
bench can't see.  It records no memory or spill figure.

Each query is timed by one ``observe.sample`` (construction and noop
write, as bench.py times it); the plan shapes come from separate,
untimed builds at both scales.

Usage: python tools/sf1_spotcheck.py [--sf1 .sfscale/sf1] [--top 20]
Prints one JSON line per query + a summary; exit 0 unless a query dies.
"""
import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.chdir(_REPO)

from my_flink_1_10_2_spark import observe, plans  # noqa: E402
from my_flink_1_10_2_spark.queries import all_queries  # noqa: E402
from my_flink_1_10_2_spark.session import get_spark  # noqa: E402


def _plan_shape(df) -> dict:
    txt = plans.explain_str(df, "simple")
    return {
        "shuffles": plans.num_shuffles(df),
        "broadcast_joins": plans.broadcast_join_count(df),
        "sort_merge_joins": plans.sort_merge_join_count(df),
        "bnlj": txt.count("BroadcastNestedLoopJoin"),
        "single_partition_windows": len(plans.single_partition_windows(df)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default=os.path.join(_REPO, ".sfscale", "sf1"))
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark(app_name="sf1-spotcheck")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    observe.warm_up(spark, args.sf01)

    if args.names:
        names = args.names
    else:
        with open(os.path.join(_REPO, "bench_detail.json")) as f:
            d = json.load(f)
        q = d.get("queries_normalized") or d["queries"]
        names = [k for k, _ in sorted(q.items(), key=lambda kv: -kv[1])[: args.top]]

    results, failed = {}, []
    for i, name in enumerate(names):
        try:
            query = reg[name]
            shape01 = _plan_shape(query.spark_fn(spark, args.sf01))
            shape1 = _plan_shape(query.spark_fn(spark, args.sf1))
            observe.release(spark)
            wall = round(observe.sample(spark, query, args.sf1)["wall_s"], 2)
            diffs = {
                k: (shape01[k], shape1[k])
                for k in shape1
                if shape01[k] != shape1[k]
            }
            results[name] = {"sec": wall, "plan_diff_vs_sf0.1": diffs}
            print(f"[{i+1}/{len(names)}] {json.dumps({name: results[name]})}",
                  flush=True)
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"[{i+1}/{len(names)}] {name}: FAILED {exc}", flush=True)
    print(json.dumps({
        "sf1_total_sec": round(sum(r["sec"] for r in results.values()), 1),
        "completed": len(results), "failed": failed,
        "plan_flips": {n: r["plan_diff_vs_sf0.1"] for n, r in results.items()
                       if r["plan_diff_vs_sf0.1"]},
    }))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
