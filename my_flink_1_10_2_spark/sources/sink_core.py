"""The one delivery loop behind every connector sink.

In the reference runtime the framework owns delivery and a connector
supplies only how a record is encoded and how buffered records are
sent and confirmed (ref: flink-streaming-java/.../functions/sink/
TwoPhaseCommitSinkFunction.java: beginTransaction / invoke / preCommit
/ commit / abort).  :class:`PartitionSink` is that runtime on Spark
micro-batches: one pass over the partitions of each batch, and in each
partition

- an empty partition opens nothing;
- otherwise :meth:`~PartitionSink.open` acquires the partition's
  connection or transaction (a context manager: it commits or closes
  on success and sees the exception on failure, so it can abort);
- every row is :meth:`~PartitionSink.encode`-d into the open chunk,
  which is cut at the sink's count cap and, where it has one, its
  byte cap (:meth:`~PartitionSink.full`);
- every chunk goes to :meth:`~PartitionSink.flush` through
  :func:`send_with_retry`, which re-sends only what the endpoint
  rejected as transient (:class:`Rejected`).

The module also holds the one HTTP call the REST connectors share
(:func:`http_request`) and the committed-batch manifest of the two
exactly-once sinks (:class:`BatchManifest`).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

_END = object()


def http_request(method: str, url: str, headers: dict | None = None,
                 body: bytes | None = None, timeout: float = 60.0):
    """One HTTP exchange → ``(status, headers, body)``.  Every reply is
    returned whatever its status, so the caller decides what is
    retryable; network errors and timeouts raise.  Stdlib-only so it
    runs inside executors."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers or {}, method=method)
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as err:
        return err.code, dict(err.headers or {}), err.read()


class Rejected(RuntimeError):
    """A transient rejection raised by a sink's ``flush``: ``pending``
    is the part of the chunk to send again (all of it, or only the
    records the endpoint refused)."""

    def __init__(self, message: str, pending: list):
        super().__init__(message)
        self.pending = pending


def send_with_retry(send, chunk: list, max_retries: int, delay_s: float):
    """Fixed-backoff retry: call ``send(chunk)``; on :class:`Rejected`
    wait ``delay_s`` and send only its ``pending`` part, at most
    ``max_retries`` more times.  The last rejection propagates, as does
    any other error at once."""
    for _ in range(max_retries):
        try:
            return send(chunk)
        except Rejected as exc:
            chunk = exc.pending
        time.sleep(delay_s)
    return send(chunk)


class PartitionSink:
    """Base of the foreachBatch connector sinks (see the module doc).

    A subclass implements :meth:`encode` and :meth:`flush`, sets
    ``max_items`` (and ``max_bytes`` with :meth:`item_bytes` when it
    caps request size), and sets ``max_retries``/``retry_delay_s`` when
    its ``flush`` can raise :class:`Rejected`."""

    max_items: int = 1000
    max_bytes: int | None = None
    max_retries: int = 0
    retry_delay_s: float = 0.0

    def encode(self, row):
        """One Spark row → one item of a chunk."""
        raise NotImplementedError

    def flush(self, chunk: list, conn) -> None:
        """Send one chunk over ``conn`` (what :meth:`open` yielded);
        raise :class:`Rejected` for a transient rejection."""
        raise NotImplementedError

    def item_bytes(self, item) -> int:
        return 0

    def full(self, count: int, size: int, nbytes: int) -> bool:
        """True when the open chunk (``count`` items, ``size`` bytes)
        must be sent before an item of ``nbytes`` joins it: by default
        the chunk never exceeds either cap."""
        return count >= self.max_items or (
            self.max_bytes is not None and size + nbytes > self.max_bytes
        )

    def open(self, batch_id: int, partition: int | None):
        """Context manager around one non-empty partition's writes,
        yielding the connection ``flush`` sends over.  The default
        sink needs none."""
        return contextlib.nullcontext()

    def landed(self, batch_id: int, partition: int | None) -> bool:
        """True when this partition's writes are known to have landed
        before a crash, so its replay is skipped."""
        return False

    def write_partition(self, rows, batch_id: int = 0, partition: int | None = None) -> None:
        """Deliver one partition's rows (``partition=None``: the whole
        batch, iterated on the driver)."""
        rows = iter(rows)
        first = next(rows, _END)
        if first is _END or self.landed(batch_id, partition):
            return
        with self.open(batch_id, partition) as conn:

            def send(chunk):
                return self.flush(chunk, conn)

            chunk, size = [], 0
            for row in itertools.chain([first], rows):
                item = self.encode(row)
                nbytes = self.item_bytes(item)
                if chunk and self.full(len(chunk), size, nbytes):
                    send_with_retry(send, chunk, self.max_retries, self.retry_delay_s)
                    chunk, size = [], 0
                chunk.append(item)
                size += nbytes
            send_with_retry(send, chunk, self.max_retries, self.retry_delay_s)

    def __call__(self, batch_df, batch_id: int = 0) -> None:
        sink = self

        def send_partition(rows):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            sink.write_partition(rows, batch_id, ctx.partitionId() if ctx else 0)

        batch_df.foreachPartition(send_partition)


class BatchManifest:
    """Committed micro-batch ids in ``<manifest_dir>/committed_batches.json``,
    replaced atomically: the idempotence record that lets a two-phase
    sink skip a replayed batch."""

    def __init__(self, manifest_dir: str):
        self.manifest = os.path.join(manifest_dir, "committed_batches.json")
        os.makedirs(manifest_dir, exist_ok=True)

    def _committed(self) -> set[int]:
        if not os.path.exists(self.manifest):
            return set()
        with open(self.manifest) as f:
            return set(json.load(f))

    def _record(self, batch_id: int) -> None:
        ids = self._committed()
        ids.add(batch_id)
        tmp = self.manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(ids), f)
        os.replace(tmp, self.manifest)  # atomic commit point
