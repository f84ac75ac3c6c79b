"""Per-layer metrics of one traced run, named after the engine's modules
(``jvm`` is the Spark runtime underneath them).

Additive metrics are per timed pass (a pass is one run over the
workload's queries, or two replays); times of single events are medians.
A metric whose layer the workload does not exercise reads 0.
"""

from __future__ import annotations

from ledger import iso_s, median, union_s
from workloads import ITERATIVE

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("session.jvm_rss_peak_mb", "MiB"),
    ("queries.build_s", "s"),
    ("queries.execute_s", "s"),
    ("jvm.jobs", "count"),
    ("jvm.stages", "count"),
    ("jvm.tasks", "count"),
    ("jvm.driver_gap_s", "s"),
    ("jvm.executor_run_s", "s"),
    ("jvm.executor_cpu_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.shuffle_read_mb", "MiB"),
    ("jvm.shuffle_write_mb", "MiB"),
    ("jvm.spill_mb", "MiB"),
    ("operators.supersteps", "count"),
    ("operators.superstep_s", "s"),
    ("llm.python_start_s", "s"),
    ("llm.python_init_s", "s"),
    ("llm.python_run_s", "s"),
    ("llm.python_sent_mb", "MiB"),
    ("llm.python_recv_mb", "MiB"),
    ("sources.roundtrip_s.tfrecord", "s"),
    ("sources.roundtrip_share", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.state_commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_partitions", "count"),
    ("streaming.watermark_lag_s", "s"),
    ("trace.harvest_s", "s"),
]


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def per_layer(bench, passes: int, warmup_s: float, window_s: float) -> dict:
    """Every PER_LAYER metric of the timed window, as {name: {value, unit}}."""
    ledger = bench.ledger
    counts = ledger.harvest(bench.ops)
    ex, py = counts["executor"], counts["python"]
    jobs: dict[str, list[dict]] = {}
    for s in ledger.spans:
        if s["name"] == "jvm.job":
            jobs.setdefault(s["qid"], []).append(s)
    gap = 0.0
    steps: list[float] = []
    for op in bench.ops:
        mine = jobs.get(op["qid"], [])
        gap += (op["end"] - op["start"]) - union_s((j["start"], j["end"]) for j in mine)
        if op["unit"] in ITERATIVE:
            steps += [j["end"] - j["start"] for j in mine if j["start"] < op["build_end"]]
    all_jobs = [j for js in jobs.values() for j in js]

    data = [p for p in bench.progress if p["numInputRows"] > 0]
    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    lag = [
        iso_s(e["max"]) - iso_s(e["watermark"])
        for e in (p.get("eventTime", {}) for p in data)
        # a batch before the first watermark (epoch 0) has no lag to measure
        if "max" in e and iso_s(e.get("watermark", "1970-01-01T00:00:00.000Z")) > 0
    ]
    rt = bench.roundtrip_s
    values = {
        "session.start_s": bench.session_s,
        "session.warmup_s": warmup_s,
        "session.jvm_rss_peak_mb": jvm_rss_peak_mb(bench.spark),
        "queries.build_s": bench.build_s / passes,
        "queries.execute_s": bench.execute_s / passes,
        "jvm.jobs": len(all_jobs) / passes,
        "jvm.stages": ex["stages"] / passes,
        "jvm.tasks": sum(j["tasks"] for j in all_jobs) / passes,
        "jvm.driver_gap_s": gap / passes,
        "jvm.executor_run_s": ex["run"] / passes,
        "jvm.executor_cpu_s": ex["cpu"] / passes,
        "jvm.gc_s": ex["gc"] / passes,
        "jvm.shuffle_read_mb": ex["read"] / passes,
        "jvm.shuffle_write_mb": ex["write"] / passes,
        "jvm.spill_mb": ex["spill"] / passes,
        "operators.supersteps": len(steps) / passes,
        "operators.superstep_s": median(steps),
        **{k: v / passes for k, v in py.items()},
        "sources.roundtrip_s.tfrecord": rt.get("tfrecord", 0.0) / passes,
        "sources.roundtrip_share": sum(rt.values()) / window_s,
        "streaming.batches": len(data) / passes,
        "streaming.batch_s": median(p["durationMs"].get("triggerExecution", 0) / 1e3 for p in data),
        "streaming.add_batch_s": median(p["durationMs"].get("addBatch", 0) / 1e3 for p in data),
        "streaming.wal_commit_s": median(p["durationMs"].get("walCommit", 0) / 1e3 for p in data),
        "streaming.state_commit_s": median(s.get("commitTimeMs", 0) / 1e3 for s in state),
        "streaming.state_rows": median(s.get("numRowsTotal", 0) for s in state),
        "streaming.state_partitions": max((s.get("numShufflePartitions", 0) for s in state), default=0),
        "streaming.watermark_lag_s": median(lag),
        "trace.harvest_s": ledger.harvest_s,
    }
    return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
