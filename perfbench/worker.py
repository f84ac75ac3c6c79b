"""One workload in its own process: set up, warm up, check, time, report.

Started by ``run.py``, which passes the settings in ``PERFBENCH_ARGS``
and the launch time (``time.monotonic()``, system-wide on Linux) in
``PERFBENCH_LAUNCH``.  Writes its result as JSON to the path in the
settings and exits.
"""

from __future__ import annotations

import calendar
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ledger import iso_s  # noqa: E402
from workloads import (  # noqa: E402
    QUERY_WORKLOADS,
    ROUNDTRIPS,
    TABLES,
    compare_frames,
    stream_expected,
    stream_pipeline,
)

# Noop passes after the checking pass, before timing.  The batch queries
# keep speeding up for several passes (JIT), but the run budget leaves room
# for one; a stream pass is two replays, so its checking pass already ends
# with a warm replay.
WARM_PASSES = {"batch": 1, "stream_replay": 0}


class Op:
    """One timed operation's outcome."""

    def __init__(self):
        self.ok = True
        self.units = 0
        self.latencies: list[float] = []
        self.error = ""


class Bench:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = cfg["workload"]
        self.data = cfg["data"]
        self.work = cfg["work"]
        self.ledger = None
        if cfg["trace"]:
            from ledger import Ledger

            self.ledger = Ledger()
        self.ops: list[dict] = []  # traced operation spans
        self.build_s = self.execute_s = 0.0
        self.progress: list[dict] = []
        self.roundtrip_s: dict[str, float] = {}
        self.oracle_s = 0.0

    # -- set-up --------------------------------------------------------------
    def setup(self, parent) -> None:
        from my_flink_1_10_2_spark.queries import all_queries
        from my_flink_1_10_2_spark.session import get_spark

        self.registry = all_queries()
        t = time.perf_counter()
        span = self._begin("session.get_spark", parent)
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self._end(span)
        self.session_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.ledger is not None:
            self.ledger.spark = self.spark
        if self.workload == "stream_replay":
            self.units = ["replay", "replay"]
            self.schema = self.spark.read.parquet(self.cfg["stream_files"]).schema
        else:
            self.units = list(QUERY_WORKLOADS[self.workload])

    def _begin(self, name, parent=None, **attrs):
        if self.ledger is None:
            return None
        return self.ledger.begin(name, parent, **attrs)

    def _end(self, span) -> None:
        if span is not None:
            span["end"] = time.time()

    # -- one operation -------------------------------------------------------
    def run_op(self, unit: str, tag: str, parent=None, check: bool = False) -> Op:
        op = Op()
        sc = self.spark.sparkContext
        group = f"{self.workload}:{tag}:{unit}"
        sc.setJobGroup(group, group)
        span = self._begin("op", parent, qid=group, group=group, unit=unit)
        before = set(os.listdir(tempfile.gettempdir()))
        try:
            if self.workload == "stream_replay":
                self._replay(op, span, check)
            else:
                self._query(op, unit, span, check)
        except Exception as e:  # a failed operation is counted, never timed
            op.ok, op.error = False, f"{unit}: {type(e).__name__}: {str(e)[:300]}"
        finally:
            self._end(span)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._cleanup(before)
        if span is not None:
            self.ops.append(span)
        if not op.ok:
            op.latencies = []
        return op

    def _query(self, op: Op, name: str, span, check: bool) -> None:
        q = self.registry[name]
        t0 = time.perf_counter()
        b = self._begin("queries.build", span)
        df = q.spark_fn(self.spark, self.data)
        self._end(b)
        t1 = time.perf_counter()
        x = self._begin("queries.execute", span)
        if check:
            got = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        self._end(x)
        t2 = time.perf_counter()
        op.units = 1
        op.latencies = [t2 - t0]
        if span is not None:
            span["build_end"] = b["end"]
        self.build_s += t1 - t0
        self.execute_s += t2 - t1
        if name in ROUNDTRIPS:
            self.roundtrip_s[ROUNDTRIPS[name]] = self.roundtrip_s.get(ROUNDTRIPS[name], 0.0) + t2 - t0
        if check:
            t = time.perf_counter()
            if q.oracle is None:
                bad = None if len(got) > 0 else "no rows"
            else:
                bad = compare_frames(got, self.duck().execute(q.oracle).fetchdf())
            self.oracle_s += time.perf_counter() - t
            if bad:
                op.ok, op.error = False, f"{name}: wrong result: {bad}"

    def _replay(self, op: Op, span, check: bool) -> None:
        rows: list = []

        def sink(batch_df, batch_id):
            rows.extend(tuple(r) for r in batch_df.collect())

        ckpt = tempfile.mkdtemp(prefix="ckpt_", dir=self.work)
        try:
            t0 = time.perf_counter()
            b = self._begin("queries.build", span)
            stream = stream_pipeline(self.spark, self.cfg["stream_files"], self.schema)
            self._end(b)
            t1 = time.perf_counter()
            x = self._begin("queries.execute", span)
            q = stream.for_each_batch(sink, checkpoint=ckpt)
            self._end(x)
            t2 = time.perf_counter()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        progress = [json.loads(p.json) for p in q.recentProgress]
        data = [p for p in progress if p["numInputRows"] > 0]
        op.units = sum(p["numInputRows"] for p in data)
        op.latencies = [p["durationMs"]["triggerExecution"] / 1e3 for p in data]
        self.build_s += t1 - t0
        self.execute_s += t2 - t1
        if span is not None:
            span["group"] = str(q.runId)
            span["build_end"] = b["end"]
            self.ledger.batch_spans(x, progress)
        self.progress.extend(progress)
        if check:
            t = time.perf_counter()
            wm = progress[-1]["eventTime"].get("watermark", "1970-01-01T00:00:00.000Z")
            want = stream_expected(self.duck(), self.cfg["stream_files"], round(iso_s(wm) * 1e6))
            got = sorted((_epoch_us(r[0]), r[2], r[3], r[4], r[5]) for r in rows)
            self.oracle_s += time.perf_counter() - t
            if not want or got != want:
                op.ok = False
                op.error = f"replay: {len(got)} sink rows != {len(want)} expected windows"

    def duck(self):
        if not hasattr(self, "_duck"):
            import duckdb

            self._duck = duckdb.connect()
            self._duck.execute("SET TimeZone = 'UTC'")
            for t in TABLES:
                p = os.path.join(self.data, f"{t}.parquet")
                if os.path.exists(p):
                    self._duck.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                    )
        return self._duck

    def _cleanup(self, tmp_before: set) -> None:
        """Free what an operation left behind, as bench.py does, and delete
        the scratch files it wrote."""
        for r in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            r.unpersist()
        self.spark.catalog.clearCache()
        tmp = tempfile.gettempdir()
        for name in set(os.listdir(tmp)) - tmp_before:
            p = os.path.join(tmp, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass

    # -- phases ----------------------------------------------------------------
    def run_pass(self, tag: str, order: list[str], parent=None, check=False):
        t = time.perf_counter()
        span = self._begin("pass", parent, tag=tag)
        ops = [self.run_op(u, f"{tag}:{i}", span, check) for i, u in enumerate(order)]
        self._end(span)
        return time.perf_counter() - t, ops


def _epoch_us(ts) -> int:
    return calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile (nearest rank) with at least ten samples
    beyond it, and that percentile.  With 20 samples or fewer none has,
    and the tail is the largest sample, reported as p100."""
    xs = sorted(samples)
    n = len(xs)
    for pct in range(99, 49, -1):
        rank = -(-pct * n // 100)
        if n - rank >= 10:
            return xs[rank - 1], pct
    return xs[-1], 100


def main() -> None:
    launch = float(os.environ["PERFBENCH_LAUNCH"])
    cfg = json.loads(os.environ["PERFBENCH_ARGS"])
    sys.path.insert(0, cfg["root"])
    bench = Bench(cfg)
    run_span = bench._begin("run")
    bench.setup(run_span)
    wl_span = bench._begin("workload", run_span, workload=bench.workload)

    attempted = failed = 0
    errors: list[str] = []

    def tally(ops):
        nonlocal attempted, failed
        for o in ops:
            attempted += 1
            if not o.ok:
                failed += 1
                errors.append(o.error)

    # Warm-up: the first pass also checks every output against its oracle
    # (its cold JIT and first-job costs are what the warm-up absorbs); then
    # WARM_PASSES noop passes.  Failures here count; latencies do not.
    t_warm = time.perf_counter()
    t, ops = bench.run_pass("check", bench.units, wl_span, check=True)
    tally(ops)
    warm_times = [t - bench.oracle_s]
    for i in range(WARM_PASSES[bench.workload]):
        t, ops = bench.run_pass(f"warm{i}", bench.units, wl_span)
        tally(ops)
        warm_times.append(t)
    warmup_s = time.perf_counter() - t_warm - bench.oracle_s
    setup_s = time.monotonic() - launch - bench.oracle_s

    # Timed window: closed-loop whole passes, each in a seeded order, until
    # the window has lasted --seconds.
    bench.build_s = bench.execute_s = 0.0
    bench.roundtrip_s, bench.progress, bench.ops = {}, [], []
    rng = random.Random(cfg["seed"])
    latencies: list[float] = []
    pass_times: list[float] = []
    units = passes = 0
    t0 = time.perf_counter()
    while passes == 0 or time.perf_counter() - t0 < cfg["seconds"]:
        order = list(bench.units)
        rng.shuffle(order)
        t, ops = bench.run_pass(f"timed{passes}", order, wl_span)
        pass_times.append(t)
        tally(ops)
        for o in ops:
            if o.ok:
                units += o.units
                latencies.extend(o.latencies)
        passes += 1
    window_s = time.perf_counter() - t0
    bench._end(wl_span)

    tail_s, tail_pct = tail(latencies) if latencies else (0.0, 50)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": setup_s,
            "throughput_per_s": units / window_s,
            "latency_p50_s": statistics.median(latencies) if latencies else 0.0,
            "latency_tail_s": tail_s,
        },
        "info": {
            "error_rate": failed / attempted,
            "tail_percentile": tail_pct,
            "samples": len(latencies),
            "passes": passes,
            "window_s": window_s,
            "units": units,
            "warm_pass_s": warm_times,
            "pass_s": pass_times,
            "errors": errors[:20],
        },
    }
    if bench.ledger is not None:
        from layers import per_layer

        bench._end(run_span)
        result["per_layer"] = per_layer(bench, passes, warmup_s, window_s)
        result["info"]["self_time_s"] = bench.ledger.self_times({o["qid"] for o in bench.ops})
        os.makedirs(cfg["trace_dir"], exist_ok=True)
        bench.ledger.write(
            os.path.join(cfg["trace_dir"], f"trace-{bench.workload}-{cfg['seed']}.json"),
            {"workload": bench.workload, "seed": cfg["seed"], "end_to_end": result["end_to_end"],
             "per_layer": result["per_layer"], "self_time_s": result["info"]["self_time_s"]},
        )
    bench.spark.stop()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
