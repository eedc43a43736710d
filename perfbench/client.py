"""A blocking gRPC client for ``/engine.Engine/ExecuteTransform``.

One object is one HTTP/2 connection (prior knowledge, cleartext), used
for one call at a time, which is how a coordinator talks to the engine.
Framing, HPACK and the FlatBuffers codec come from the engine's own
transport package, so the bytes on the wire are the ones its server is
built to read.
"""

from __future__ import annotations

import socket
from datetime import datetime

from kamu_engine_datafusion_spark.plans.types import (
    OffsetInterval,
    TransformRequest,
    TransformResponse,
)
from kamu_engine_datafusion_spark.transport import odf_flatbuffers as fb
from kamu_engine_datafusion_spark.transport.grpc_server import (
    grpc_frame,
    grpc_unframe,
    proto_unwrap,
    proto_wrap,
)
from kamu_engine_datafusion_spark.transport.hpack import HpackDecoder, encode_headers
from kamu_engine_datafusion_spark.transport.http2 import (
    F_DATA,
    F_GOAWAY,
    F_HEADERS,
    F_PING,
    F_RST_STREAM,
    F_SETTINGS,
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    PREFACE,
    pack_frame,
)
from kamu_engine_datafusion_spark.transport.http_server import (
    transform_request_to_dict,
)

PATH = "/engine.Engine/ExecuteTransform"
_MAX_FRAME = 16384  # the server's advertised (default) SETTINGS_MAX_FRAME_SIZE


class CallFailed(Exception):
    """The call did not come back as a SUCCESS response."""


class GrpcClient:
    def __init__(self, port: int, timeout_s: float = 170.0) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout_s)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.decoder = HpackDecoder()
        self.next_stream = 1
        self.sock.sendall(PREFACE + pack_frame(F_SETTINGS, 0, 0, b""))
        self.headers = encode_headers(
            [
                (":method", "POST"),
                (":scheme", "http"),
                (":path", PATH),
                (":authority", f"127.0.0.1:{port}"),
                ("content-type", "application/grpc"),
                ("te", "trailers"),
            ]
        )

    def close(self) -> None:
        self.sock.close()

    def _recv_exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("server closed the connection")
            buf += chunk
        return bytes(buf)

    def _call(self, message: bytes) -> tuple[dict, list[bytes]]:
        sid = self.next_stream
        self.next_stream += 2
        body = grpc_frame(message)
        frames = [pack_frame(F_HEADERS, FLAG_END_HEADERS, sid, self.headers)]
        for pos in range(0, len(body), _MAX_FRAME):
            last = pos + _MAX_FRAME >= len(body)
            frames.append(
                pack_frame(F_DATA, FLAG_END_STREAM if last else 0, sid, body[pos : pos + _MAX_FRAME])
            )
        self.sock.sendall(b"".join(frames))
        headers: list[tuple[str, str]] = []
        data = bytearray()
        while True:
            head = self._recv_exact(9)
            length = int.from_bytes(head[:3], "big")
            ftype, flags = head[3], head[4]
            payload = self._recv_exact(length) if length else b""
            if ftype == F_SETTINGS and not flags & FLAG_ACK:
                self.sock.sendall(pack_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == F_PING and not flags & FLAG_ACK:
                self.sock.sendall(pack_frame(F_PING, FLAG_ACK, 0, payload))
            elif ftype == F_HEADERS:
                headers += self.decoder.decode(payload)
            elif ftype == F_DATA:
                data += payload
            elif ftype in (F_GOAWAY, F_RST_STREAM):
                raise CallFailed(f"stream ended by frame type {ftype}: {payload!r}")
            if ftype in (F_HEADERS, F_DATA) and flags & FLAG_END_STREAM:
                return dict(headers), grpc_unframe(bytes(data))

    def execute_transform(self, req: TransformRequest) -> TransformResponse:
        """Send ``req``; return its response, or raise :class:`CallFailed`
        for anything but a SUCCESS answer."""
        payload = fb.encode_transform_request(transform_request_to_dict(req))
        headers, msgs = self._call(proto_wrap(payload))
        if headers.get("grpc-status") != "0" or not msgs:
            raise CallFailed(f"grpc-status {headers.get('grpc-status')}: {headers.get('grpc-message')}")
        kind, resp = fb.decode_response(proto_unwrap(msgs[0]), "TransformResponseSuccess")
        if kind != fb.UNION_SUCCESS:
            raise CallFailed(f"response kind {kind}: {resp.get('message')}")
        oi = resp.get("new_offset_interval")
        wm = resp.get("new_watermark")
        return TransformResponse(
            new_offset_interval=OffsetInterval(oi["start"], oi["end"]) if oi else None,
            new_watermark=datetime.fromisoformat(wm.replace("Z", "+00:00")) if wm else None,
        )
