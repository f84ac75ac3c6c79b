"""NiFi connector speaking Site-to-Site over HTTP — the jar-free
functional path (ref: flink-connectors/flink-connector-nifi/.../
NiFiSource.java, NiFiSink.java, NiFiDataPacket.java,
StandardNiFiDataPacket.java).

The reference wraps Apache NiFi's SiteToSiteClient; the HTTP transport
of that protocol is PUBLIC (NiFi REST API, ``/nifi-api/data-transfer``):

- create:  ``POST {base}/nifi-api/data-transfer/{input-ports|output-ports}
  /{portId}/transactions`` → 201 with the transaction id
- send:    ``POST .../transactions/{txId}/flow-files`` with a binary
  data-packet stream; the server answers the stream's CRC32 checksum
- receive: ``GET  .../transactions/{txId}/flow-files`` → the binary
  stream; the client computes the CRC32
- confirm: ``DELETE .../transactions/{txId}?responseCode=12&checksum=N``
  (12 = CONFIRM_TRANSACTION) — two-phase: data is only committed/
  dequeued when the checksums agree

Data-packet wire format (the site-to-site client's packet codec): per
flowfile a big-endian ``int32`` attribute count, then per attribute
``int32``-length-prefixed UTF-8 key and value, then an ``int64``
content length and the content bytes — exactly the (attributes,
content) pair the reference surfaces as ``NiFiDataPacket``.

Scale shape: one transaction per chunk of a partition on the sink, one
consumer task per transaction on the source (NiFi distributes across
its own cluster nodes behind the port); rows never touch the driver.
"""

from __future__ import annotations

import struct
import zlib

from my_flink_1_10_2_spark.sources.sharding import read_per_task
from my_flink_1_10_2_spark.sources.sink_core import PartitionSink, http_request


# -- data-packet codec ----------------------------------------------------------


def encode_data_packets(packets) -> bytes:
    """``[(attributes: dict[str,str], content: bytes), ...]`` → stream."""
    out = bytearray()
    for attrs, content in packets:
        out += struct.pack(">i", len(attrs))
        for k, v in attrs.items():
            kb, vb = str(k).encode(), str(v).encode()
            out += struct.pack(">i", len(kb)) + kb
            out += struct.pack(">i", len(vb)) + vb
        content = bytes(content)
        out += struct.pack(">q", len(content)) + content
    return bytes(out)


def decode_data_packets(buf: bytes) -> list[tuple[dict, bytes]]:
    """Inverse of :func:`encode_data_packets` — loud on truncation."""
    packets, off = [], 0
    while off < len(buf):
        (n_attrs,) = struct.unpack_from(">i", buf, off)
        off += 4
        attrs = {}
        for _ in range(n_attrs):
            (kl,) = struct.unpack_from(">i", buf, off)
            k = buf[off + 4 : off + 4 + kl].decode()
            off += 4 + kl
            (vl,) = struct.unpack_from(">i", buf, off)
            attrs[k] = buf[off + 4 : off + 4 + vl].decode()
            off += 4 + vl
        (clen,) = struct.unpack_from(">q", buf, off)
        off += 8
        if off + clen > len(buf):
            raise ValueError("truncated NiFi data-packet stream")
        packets.append((attrs, buf[off : off + clen]))
        off += clen
    return packets


# -- HTTP transaction protocol ---------------------------------------------------

CONFIRM_TRANSACTION = 12  # ResponseCode.CONFIRM_TRANSACTION


def _http(url: str, method: str, body: bytes | None = None) -> tuple[int, bytes, dict]:
    headers = {} if body is None else {"Content-Type": "application/octet-stream"}
    status, resp_headers, resp_body = http_request(method, url, headers, body)
    if not 200 <= status < 300:
        raise RuntimeError(
            f"NiFi S2S {method} {url.split('/nifi-api/')[-1]} failed: "
            f"HTTP {status} {resp_body[:200]!r}"
        )
    return status, resp_body, resp_headers


def _create_transaction(base_url: str, port_kind: str, port_id: str) -> str:
    status, body, _hdrs = _http(
        f"{base_url.rstrip('/')}/nifi-api/data-transfer/{port_kind}/"
        f"{port_id}/transactions",
        "POST",
        b"",
    )
    if status not in (200, 201):
        raise RuntimeError(f"NiFi transaction create answered HTTP {status}")
    import json as _json

    return _json.loads(body)["transactionId"]


def _confirm(base_url, port_kind, port_id, tx_id, checksum: int) -> None:
    status, _body, _h = _http(
        f"{base_url.rstrip('/')}/nifi-api/data-transfer/{port_kind}/{port_id}"
        f"/transactions/{tx_id}?responseCode={CONFIRM_TRANSACTION}"
        f"&checksum={checksum}",
        "DELETE",
    )
    if status != 200:
        raise RuntimeError(f"NiFi transaction confirm answered HTTP {status}")


class NiFiS2SSink(PartitionSink):
    """foreachBatch sink shipping rows to a NiFi INPUT port as
    data packets over S2S-HTTP (ref: NiFiSink.java + the reference's
    NiFiDataPacketBuilder): content from ``body_field`` (string/binary)
    or the JSON row, attributes from ``attribute_fields``.  One
    two-phase transaction per chunk of ``batch_max_packets`` — create →
    send → confirm with the server's CRC32 — so a failed chunk leaves
    nothing committed (the reference's transaction.confirm()/complete())."""

    def __init__(
        self,
        base_url: str,
        port_id: str,
        *,
        body_field: str | None = None,
        attribute_fields: tuple[str, ...] = (),
        batch_max_packets: int = 500,
    ):
        if not port_id:
            raise ValueError("a NiFi input-port id is required")
        self.base_url = base_url
        self.port_id = port_id
        self.body_field = body_field
        self.attribute_fields = tuple(attribute_fields)
        self.max_items = batch_max_packets

    def encode(self, row) -> tuple[dict, bytes]:
        import json as _json

        doc = row.asDict(recursive=True)
        attrs = {f: str(doc[f]) for f in self.attribute_fields}
        if self.body_field is not None:
            v = doc[self.body_field]
            content = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
        else:
            content = _json.dumps(doc, sort_keys=True, default=str).encode()
        return attrs, bytes(content)

    def flush(self, packets: list, conn) -> None:
        stream = encode_data_packets(packets)
        tx = _create_transaction(self.base_url, "input-ports", self.port_id)
        _status, body, _h = _http(
            f"{self.base_url.rstrip('/')}/nifi-api/data-transfer/input-ports/"
            f"{self.port_id}/transactions/{tx}/flow-files",
            "POST",
            stream,
        )
        server_crc = int(body.strip() or b"0")
        local_crc = zlib.crc32(stream)
        if server_crc != local_crc:
            raise RuntimeError(
                f"NiFi S2S checksum mismatch: sent crc32={local_crc}, "
                f"server saw {server_crc}"
            )
        _confirm(self.base_url, "input-ports", self.port_id, tx, local_crc)


def nifi_s2s_source(
    spark,
    base_url: str,
    port_id: str,
    *,
    consumers: int = 4,
):
    """Drain a NiFi OUTPUT port → DataFrame ``(attributes
    map<string,string>, content binary)`` (ref: NiFiSource.java).  Each
    consumer task loops create → GET flow-files → CRC32-confirm until
    the port answers empty (HTTP 204 on create or an empty stream);
    the confirm is what dequeues server-side, so an executor crash
    mid-transaction redelivers (at-least-once, the reference's
    transactional receive)."""
    base, pid = base_url, port_id

    def drain(_consumer):
        import json as _json

        while True:
            status, body, _h = _http(
                f"{base.rstrip('/')}/nifi-api/data-transfer/output-ports/"
                f"{pid}/transactions",
                "POST",
                b"",
            )
            if status == 204:
                return  # port empty
            tx = _json.loads(body)["transactionId"]
            _status, stream, _h = _http(
                f"{base.rstrip('/')}/nifi-api/data-transfer/output-ports/"
                f"{pid}/transactions/{tx}/flow-files",
                "GET",
            )
            if not stream:
                _confirm(base, "output-ports", pid, tx, 0)
                return
            _confirm(base, "output-ports", pid, tx, zlib.crc32(stream))
            yield list(decode_data_packets(stream))

    # Transactions CONFIRM (dequeue server-side) inside the drain: pin
    # the rows executor-side NOW so recomputation never re-drains an
    # already-confirmed (empty) port.
    return read_per_task(
        spark,
        [(i,) for i in range(consumers)],
        "attributes map<string,string>, content binary",
        drain,
    ).localCheckpoint(eager=True)
