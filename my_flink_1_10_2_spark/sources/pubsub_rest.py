"""GCP Pub/Sub connector speaking the PUBLIC REST/JSON API — the
jar-free functional path (ref: flink-connectors/flink-connector-gcp-pubsub/
.../PubSubSource.java, PubSubSink.java, common/AcknowledgeOnCheckpoint.java).

Endpoints (cloud.google.com/pubsub/docs/reference/rest — also what the
Google-supplied emulator serves):

- ``POST {base}/v1/projects/{p}/topics/{t}:publish``
  ``{"messages": [{"data": <base64>, "attributes": {...}}]}``
- ``POST {base}/v1/projects/{p}/subscriptions/{s}:pull``
  ``{"maxMessages": N}`` → ``{"receivedMessages": [{"ackId", "message":
  {"data", "messageId", "attributes"}}]}``
- ``POST {base}/v1/projects/{p}/subscriptions/{s}:acknowledge``
  ``{"ackIds": [...]}``

Reference-semantics parity:

- ``PubSubRestSink`` (PubSubSink.java): serialized row bytes as the
  message data; per-PARTITION HTTP session; API-limit chunking (1000
  messages per publish call).  The reference blocks the checkpoint on
  pending publish futures — here the micro-batch is the checkpoint and
  every publish is synchronous-acked before the batch completes.
- ``pubsub_pull_source`` (PubSubSource.java, a ParallelSourceFunction):
  N parallel pull workers, each pulling until the subscription answers
  empty and ACKING after the pull succeeds — the reference's
  acknowledge-on-checkpoint, with the micro-batch as the checkpoint.
  Pub/Sub is at-least-once: redeliveries keep their messageId, so
  ``dedup_on_message_id=True`` drops them exactly where the reference
  relies on downstream idempotence.

Scale shape: subscriptions fan out to any number of pullers (Pub/Sub's
own competing-consumer model) — ``consumers=N`` is one executor task
per puller, rows never touch the driver.
"""

from __future__ import annotations

import base64
import json

from my_flink_1_10_2_spark.sources.sharding import read_per_task
from my_flink_1_10_2_spark.sources.sink_core import PartitionSink, http_request


def _http_post_json(url: str, doc: dict, token: str | None = None) -> dict:
    """One POST, JSON in/out, loud on HTTP errors."""
    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    status, _, body = http_request("POST", url, headers, json.dumps(doc).encode())
    if not 200 <= status < 300:
        raise RuntimeError(
            f"pubsub call {url.rsplit('/', 1)[-1]} failed: HTTP {status} {body[:200]!r}"
        )
    return json.loads(body) if body.strip() else {}


class PubSubRestSink(PartitionSink):
    """foreachBatch sink publishing rows to a Pub/Sub topic over REST
    (ref: PubSubSink.java).  Rows serialize to JSON unless ``body_field``
    names a string/binary column to publish raw (the SerializationSchema
    analog); ``attribute_fields`` map named columns into message
    attributes (stringified)."""

    API_MAX_MESSAGES = 1000  # publish-call limit per the public API

    def __init__(
        self,
        base_url: str,
        project: str,
        topic: str,
        *,
        body_field: str | None = None,
        attribute_fields: tuple[str, ...] = (),
        token: str | None = None,
        batch_max_messages: int = API_MAX_MESSAGES,
    ):
        if not project or not topic:
            raise ValueError("a Pub/Sub project and topic are required")
        if batch_max_messages > self.API_MAX_MESSAGES:
            raise ValueError(
                f"publish accepts at most {self.API_MAX_MESSAGES} messages"
            )
        self.url = (
            f"{base_url.rstrip('/')}/v1/projects/{project}/topics/{topic}:publish"
        )
        self.body_field = body_field
        self.attribute_fields = tuple(attribute_fields)
        self.token = token
        self.max_items = batch_max_messages

    def encode(self, row) -> dict:
        doc = row.asDict(recursive=True)
        if self.body_field is not None:
            v = doc[self.body_field]
            body = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
        else:
            body = json.dumps(doc, sort_keys=True, default=str).encode()
        msg = {"data": base64.b64encode(bytes(body)).decode()}
        if self.attribute_fields:
            msg["attributes"] = {f: str(doc[f]) for f in self.attribute_fields}
        return msg

    def flush(self, messages: list[dict], conn) -> None:
        out = _http_post_json(self.url, {"messages": messages}, self.token)
        ids = out.get("messageIds", [])
        if len(ids) != len(messages):
            raise RuntimeError(
                f"pubsub publish acked {len(ids)}/{len(messages)} messages"
            )


def pubsub_pull_source(
    spark,
    base_url: str,
    project: str,
    subscription: str,
    *,
    consumers: int = 4,
    max_messages: int = 500,
    max_pulls: int | None = None,
    ack: bool = True,
    dedup_on_message_id: bool = False,
    token: str | None = None,
):
    """Drain a subscription with N parallel pullers → DataFrame
    ``(message_id string, attributes map<string,string>, body binary)``
    (ref: PubSubSource.java pull + acknowledge-on-checkpoint).  Each
    puller loops ``:pull`` until an empty reply (or ``max_pulls``
    calls), acking each non-empty batch after it is locally secured.
    ``dedup_on_message_id`` drops at-least-once redeliveries on the
    server-assigned id."""
    sub_url = f"{base_url.rstrip('/')}/v1/projects/{project}/subscriptions/{subscription}"
    n, tok, cap = max_messages, token, max_pulls

    def drain(_consumer):
        pulls = 0
        while cap is None or pulls < cap:
            pulls += 1
            out = _http_post_json(f"{sub_url}:pull", {"maxMessages": n}, tok)
            received = out.get("receivedMessages", [])
            if not received:
                return
            yield [
                (m.get("messageId"), dict(m.get("attributes") or {}),
                 base64.b64decode(m.get("data", "")))
                for m in (rm["message"] for rm in received)
            ]
            if ack:
                _http_post_json(
                    f"{sub_url}:acknowledge",
                    {"ackIds": [rm["ackId"] for rm in received]},
                    tok,
                )

    df = read_per_task(
        spark,
        [(i,) for i in range(consumers)],
        "message_id string, attributes map<string,string>, body binary",
        drain,
    )
    # The pull loop is SIDE-EFFECTING (leases taken, acks sent): pin the
    # rows executor-side NOW so recomputation never re-pulls.
    df = df.localCheckpoint(eager=True)
    if dedup_on_message_id:
        df = df.dropDuplicates(["message_id"])
    return df
