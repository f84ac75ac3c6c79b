"""Per-query profiler for optimization work (guide §1): a thin CLI over
``my_flink_1_10_2_spark.observe``.

For each named query: after the shared warm-up, take ``--runs`` samples
(noop-sink wall time; Spark jobs/stages/tasks of the first sample from
the status tracker), and with ``--plans`` write
``.explain("formatted")`` to plans/<tag>/<name>_<suffix>.txt.

Usage:
  python tools/profile_query.py [--sf DIR] [--runs N] [--plans TAG:SUFFIX] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="TAG:SUFFIX, e.g. r11:before")
    args = ap.parse_args()

    from my_flink_1_10_2_spark import observe, plans
    from my_flink_1_10_2_spark.queries import all_queries
    from my_flink_1_10_2_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    observe.warm_up(spark, args.sf)

    out = {}
    for name in args.queries:
        q = reg[name]
        if args.plans:
            tag, suffix = args.plans.split(":")
            plan_dir = os.path.join(_REPO, "plans", tag)
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plans.explain_str(q.spark_fn(spark, args.sf), "formatted"))
            observe.release(spark)
        records = [observe.sample(spark, q, args.sf) for _ in range(args.runs)]
        samples = sorted(r["wall_s"] for r in records)
        out[name] = {
            "median_s": round(samples[len(samples) // 2], 3),
            "samples": [round(s, 3) for s in samples],
            **{k: records[0][k] for k in ("jobs", "stages", "tasks")},
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
