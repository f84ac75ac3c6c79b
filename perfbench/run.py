"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Generates the seeded inputs under ``.perfbench_work/`` in the checkout,
pins the environment, runs the workload in its own process
(``worker.py``), stops every process that one started, deletes the
inputs and prints the metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1`` (whose spans go to ``.perfbench_out/``).  Exits non-zero
without a result when the workload fails to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from workloads import QUERY_WORKLOADS, write_stream_files  # noqa: E402

WORKLOADS = [*QUERY_WORKLOADS, "stream_replay"]
# The tables are the same for every run; the run's seed orders each pass
# and, for stream_replay, picks the replayed slice and its disorder.
DATA_SEED = 42
SF = 0.01  # query workloads: 60,000 lineitem rows
STREAM_SF = 0.05  # stream_replay draws its slice from 50,000 events
TIME_LIMIT_S = 170
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s", "latency_tail_s": "s"}


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid:
                pids.append(int(d))
    return pids


def stop_group(pgid: int) -> None:
    """Stop every process in the worker's process group and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def prepare(work: str, workload: str, seed: int) -> dict:
    data = os.path.join(work, "data")
    if workload == "stream_replay":
        files = os.path.join(work, "stream")
        write_stream_files(datagen.events_table(DATA_SEED, STREAM_SF), files, seed)
        os.makedirs(data, exist_ok=True)
        return {"data": data, "stream_files": files}
    datagen.generate(data, DATA_SEED, SF)
    return {"data": data}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the finally below so the worker's
    # processes are stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    proc = None
    try:
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "root": ROOT, "work": work, "result": result_path,
            "trace_dir": os.path.join(ROOT, ".perfbench_out"),
            **prepare(work, args.workload, args.seed),
        }
        # -XX:-UsePerfData here and in SPARK_LAUNCHER_OPTS: HotSpot would
        # otherwise write /tmp/hsperfdata_<user>.
        java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        submit = [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", f"spark.driver.extraJavaOptions={java_opts}",
            "pyspark-shell",
        ]
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            TZ="UTC",
            PYSPARK_PYTHON=sys.executable,
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit),
            PERFBENCH_ARGS=json.dumps(cfg),
            PERFBENCH_LAUNCH=repr(time.monotonic()),
        )
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py")],
            env=env, cwd=work, stdout=sys.stderr, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=TIME_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {args.workload} exceeded {TIME_LIMIT_S}s", file=sys.stderr)
            rc = -1
        stop_group(proc.pid)
        proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.returncode is None:
            stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    info, e2e = res["info"], res["end_to_end"]
    print(f"workload={args.workload} seed={args.seed} cpus={cpus} trace={args.trace} "
          f"passes={info['passes']} window_s={info['window_s']:.3f} "
          f"warm_pass_s={[round(t, 2) for t in info['warm_pass_s']]} "
          f"pass_s={[round(t, 2) for t in info['pass_s']]}")
    for name, value in e2e.items():
        note = ""
        if name == "latency_tail_s":
            note = f"  (p{info['tail_percentile']} of {info['samples']} samples)"
        print(f"{'traced ' if args.trace else ''}{name} = {value:.6g} {UNITS[name]}{note}")
    print(f"error_rate = {info['error_rate']:.6g} ratio  "
          f"({res['failed']} failed of {res['attempted']} attempted)")
    for err in info["errors"]:
        print(f"  error: {err}")
    if args.trace:
        print("self time by span (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(info["self_time_s"].items())))
        print("tracing overhead = these traced end-to-end numbers minus an untraced "
              "run's; reading Spark's stores took trace.harvest_s after the window")
        metrics = res["per_layer"]
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
