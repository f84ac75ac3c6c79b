"""Spans and per-layer counts for the traced run.

Spans are recorded only here, around the benchmark's calls into the
engine.  Counts come from stores Spark already keeps and that work with
the UI disabled:

- the job/stage status store, ``sc._jsc.sc().statusStore()``;
- the SQL status store, ``spark._jsparkSession.sharedState().statusStore()``
  (``executionMetrics`` and ``planGraph``);
- ``StreamingQueryProgress`` of each replay.

Everything is kept in memory; ``write`` saves it when the run ends.
"""

from __future__ import annotations

import itertools
import json
import re
import statistics
import time
from datetime import datetime, timezone

PYTHON_NODES = ("Python", "InPandas", "InArrow")
PYTHON_METRICS = {
    "time to start Python workers": "llm.python_start_s",
    "time to initialize Python workers": "llm.python_init_s",
    "time to run Python workers": "llm.python_run_s",
    "data sent to Python workers": "llm.python_sent_mb",
    "data returned from Python workers": "llm.python_recv_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}


def _total(text: str) -> float:
    """The total of one SQL metric string, e.g. 'total (min, ...)\\n13.2 s (...)'."""
    line = text.splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _opt(o):
    return o.get() if o.isDefined() else None


class Ledger:
    def __init__(self):
        self.spark = None  # set once the session exists
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.harvest_s = 0.0

    # -- spans -------------------------------------------------------------
    def begin(self, name: str, parent: dict | None = None, **attrs) -> dict:
        span = {"id": next(self._ids), "parent": parent["id"] if parent else None,
                "name": name, "start": time.time(), "end": None, **attrs}
        if parent is not None and "qid" in parent:
            span.setdefault("qid", parent["qid"])
        self.spans.append(span)
        return span

    # -- Spark's stores ----------------------------------------------------
    def harvest(self, ops: list[dict]) -> dict:
        """Read the status stores once, add a span for each job the
        operations ``ops`` ran and return their executor and Python counts."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        by_group = {op["group"]: op for op in ops}
        inner: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["name"] in ("queries.build", "queries.execute", "streaming.batch"):
                inner.setdefault(s["qid"], []).append(s)
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        job_ids: set[int] = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            op = by_group.get(_opt(j.jobGroup()))
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if op is None or sub is None or done is None:
                continue
            job_ids.add(int(j.jobId()))
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_ids.add(int(ids.apply(k)))
            start = sub.getTime() / 1e3
            parent = op  # the innermost span the job was submitted in
            for c in inner.get(op["qid"], []):
                if c["start"] <= start <= c["end"] and c["start"] >= parent["start"]:
                    parent = c
            span = {"id": next(self._ids), "parent": parent["id"], "name": "jvm.job",
                    "qid": op["qid"], "start": start,
                    "end": done.getTime() / 1e3, "job": int(j.jobId()),
                    "stages": ids.size(), "tasks": int(j.numCompletedTasks())}
            self.spans.append(span)
        gw = sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                                 gw.jvm.java.util.ArrayList())
        ex = dict.fromkeys(("run", "cpu", "gc", "read", "write", "spill", "stages"), 0.0)
        for i in range(stages.size()):
            s = stages.apply(i)
            if int(s.stageId()) not in stage_ids or str(s.status()) == "SKIPPED":
                continue
            ex["stages"] += 1
            ex["run"] += s.executorRunTime() / 1e3
            ex["cpu"] += s.executorCpuTime() / 1e9
            ex["gc"] += s.jvmGcTime() / 1e3
            ex["read"] += s.shuffleReadBytes() / 2**20
            ex["write"] += s.shuffleWriteBytes() / 2**20
            ex["spill"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        py = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = e.jobs().keySet().toList()
            if not any(int(ids.apply(k)) in job_ids for k in range(ids.size())):
                continue
            values = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not any(t in node.name() for t in PYTHON_NODES):
                    continue
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        py[key] += _total(v.get())
        self.harvest_s += time.perf_counter() - t0
        return {"executor": ex, "python": py}

    def batch_spans(self, op: dict, progress: list[dict]) -> None:
        """Micro-batch spans from a replay's StreamingQueryProgress."""
        for p in progress:
            start = iso_s(p["timestamp"])
            self.spans.append({
                "id": next(self._ids), "parent": op["id"], "name": "streaming.batch",
                "qid": op["qid"], "start": start,
                "end": start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                "batch": p["batchId"],
            })

    # -- report --------------------------------------------------------------
    def self_times(self, qids: set[str]) -> dict:
        """Self time per span name over the operations ``qids``: each span's
        duration minus what its children cover."""
        spans = [s for s in self.spans if s.get("qid") in qids]
        kids: dict[int, list] = {}
        for s in spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - union_s(
                (max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])
                if min(b, s["end"]) > max(a, s["start"])
            )
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def iso_s(ts: str) -> float:
    """Epoch seconds of a StreamingQueryProgress timestamp."""
    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
