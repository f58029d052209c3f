"""Minimal HTTP/2 cleartext (h2c) server + client and gRPC framing,
from scratch against the public specs — RFC 7540 (HTTP/2 framing),
RFC 7541 (HPACK, incl. the Appendix A static table and Appendix B
Huffman code as spec constants), and the gRPC over-HTTP/2 protocol
(PROTOCOL-HTTP2.md: 5-byte message prefix, grpc-status trailers).

Why from scratch: the reference serves OTLP/gRPC unary Export and
OTAP/Arrow streaming over tonic (reference: src/otlp_server_grpc.cpp,
serve.md:307-326), but no grpc runtime (grpcio) and no pure-Python
HTTP/2 stack (h2/hpack) ships in this environment and there is no
package index access — so the transport the OTel ecosystem defaults to
(gRPC/4317) would otherwise be a documented hole. The subset
implemented here is what a gRPC ingest edge needs:

- server: prior-knowledge h2c only (no upgrade, no TLS/ALPN);
  HEADERS/CONTINUATION with full HPACK decode (dynamic table, Huffman,
  table-size updates), DATA with receive-side flow control
  (WINDOW_UPDATE top-ups), PING/SETTINGS acks, RST_STREAM/GOAWAY.
  Responses are small (acks and statuses), so send-side flow control
  assumes the default 64 KiB window is never the constraint.
- streams dispatch to a pluggable service: ``on_message`` fires per
  complete gRPC-framed message as DATA arrives (this is what makes
  BIDI STREAMING work — responses can be emitted per message on the
  same stream), ``on_end`` returns the trailers.
- client: just enough to exercise the server in-process and for local
  tooling (`grpc_call`, `GrpcClient` for streaming) — plain HPACK
  literals, no Huffman on encode (always legal per RFC 7541 §5.2).
"""

from __future__ import annotations

import socket
import struct
import threading
import zlib
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# RFC 7541 Appendix B Huffman code table (IETF spec constants):
# per symbol 0..255 plus EOS(256), the code value and its bit length.
# ---------------------------------------------------------------------------

_HUFF_CODES = (
    0x1ff8, 0x7fffd8, 0xfffffe2, 0xfffffe3, 0xfffffe4, 0xfffffe5,
    0xfffffe6, 0xfffffe7, 0xfffffe8, 0xffffea, 0x3ffffffc, 0xfffffe9,
    0xfffffea, 0x3ffffffd, 0xfffffeb, 0xfffffec, 0xfffffed, 0xfffffee,
    0xfffffef, 0xffffff0, 0xffffff1, 0xffffff2, 0x3ffffffe, 0xffffff3,
    0xffffff4, 0xffffff5, 0xffffff6, 0xffffff7, 0xffffff8, 0xffffff9,
    0xffffffa, 0xffffffb, 0x14, 0x3f8, 0x3f9, 0xffa,
    0x1ff9, 0x15, 0xf8, 0x7fa,
    0x3fa, 0x3fb, 0xf9, 0x7fb,
    0xfa, 0x16, 0x17, 0x18,
    0x0, 0x1, 0x2, 0x19,
    0x1a, 0x1b, 0x1c, 0x1d,
    0x1e, 0x1f, 0x5c, 0xfb,
    0x7ffc, 0x20, 0xffb, 0x3fc,
    0x1ffa, 0x21, 0x5d, 0x5e,
    0x5f, 0x60, 0x61, 0x62,
    0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a,
    0x6b, 0x6c, 0x6d, 0x6e,
    0x6f, 0x70, 0x71, 0x72,
    0xfc, 0x73, 0xfd, 0x1ffb,
    0x7fff0, 0x1ffc, 0x3ffc, 0x22,
    0x7ffd, 0x3, 0x23, 0x4,
    0x24, 0x5, 0x25, 0x26,
    0x27, 0x6, 0x74, 0x75,
    0x28, 0x29, 0x2a, 0x7,
    0x2b, 0x76, 0x2c, 0x8,
    0x9, 0x2d, 0x77, 0x78,
    0x79, 0x7a, 0x7b, 0x7ffe,
    0x7fc, 0x3ffd, 0x1ffd, 0xffffffc,
    0xfffe6, 0x3fffd2, 0xfffe7, 0xfffe8,
    0x3fffd3, 0x3fffd4, 0x3fffd5, 0x7fffd9,
    0x3fffd6, 0x7fffda, 0x7fffdb, 0x7fffdc,
    0x7fffdd, 0x7fffde, 0xffffeb, 0x7fffdf,
    0xffffec, 0xffffed, 0x3fffd7, 0x7fffe0,
    0xffffee, 0x7fffe1, 0x7fffe2, 0x7fffe3,
    0x7fffe4, 0x1fffdc, 0x3fffd8, 0x7fffe5,
    0x3fffd9, 0x7fffe6, 0x7fffe7, 0xffffef,
    0x3fffda, 0x1fffdd, 0xfffe9, 0x3fffdb,
    0x3fffdc, 0x7fffe8, 0x7fffe9, 0x1fffde,
    0x7fffea, 0x3fffdd, 0x3fffde, 0xfffff0,
    0x1fffdf, 0x3fffdf, 0x7fffeb, 0x7fffec,
    0x1fffe0, 0x1fffe1, 0x3fffe0, 0x1fffe2,
    0x7fffed, 0x3fffe1, 0x7fffee, 0x7fffef,
    0xfffea, 0x3fffe2, 0x3fffe3, 0x3fffe4,
    0x7ffff0, 0x3fffe5, 0x3fffe6, 0x7ffff1,
    0x3ffffe0, 0x3ffffe1, 0xfffeb, 0x7fff1,
    0x3fffe7, 0x7ffff2, 0x3fffe8, 0x1ffffec,
    0x3ffffe2, 0x3ffffe3, 0x3ffffe4, 0x7ffffde,
    0x7ffffdf, 0x3ffffe5, 0xfffff1, 0x1ffffed,
    0x7fff2, 0x1fffe3, 0x3ffffe6, 0x7ffffe0,
    0x7ffffe1, 0x3ffffe7, 0x7ffffe2, 0xfffff2,
    0x1fffe4, 0x1fffe5, 0x3ffffe8, 0x3ffffe9,
    0xffffffd, 0x7ffffe3, 0x7ffffe4, 0x7ffffe5,
    0xfffec, 0xfffff3, 0xfffed, 0x1fffe6,
    0x3fffe9, 0x1fffe7, 0x1fffe8, 0x7ffff3,
    0x3fffea, 0x3fffeb, 0x1ffffee, 0x1ffffef,
    0xfffff4, 0xfffff5, 0x3ffffea, 0x7ffff4,
    0x3ffffeb, 0x7ffffe6, 0x3ffffec, 0x3ffffed,
    0x7ffffe7, 0x7ffffe8, 0x7ffffe9, 0x7ffffea,
    0x7ffffeb, 0xffffffe, 0x7ffffec, 0x7ffffed,
    0x7ffffee, 0x7ffffef, 0x7fffff0, 0x3ffffee,
    0x3fffffff,
)

_HUFF_LENGTHS = (
    13, 23, 28, 28, 28, 28, 28, 28, 28, 24, 30, 28, 28, 30, 28, 28,
    28, 28, 28, 28, 28, 28, 30, 28, 28, 28, 28, 28, 28, 28, 28, 28,
    6, 10, 10, 12, 13, 6, 8, 11, 10, 10, 8, 11, 8, 6, 6, 6,
    5, 5, 5, 6, 6, 6, 6, 6, 6, 6, 7, 8, 15, 6, 12, 10,
    13, 6, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7, 7,
    7, 7, 7, 7, 7, 7, 7, 7, 8, 7, 8, 13, 19, 13, 14, 6,
    15, 5, 6, 5, 6, 5, 6, 6, 6, 5, 7, 7, 6, 6, 6, 5,
    6, 7, 6, 5, 5, 6, 7, 7, 7, 7, 7, 15, 11, 14, 13, 28,
    20, 22, 20, 20, 22, 22, 22, 23, 22, 23, 23, 23, 23, 23, 24, 23,
    24, 24, 22, 23, 24, 23, 23, 23, 23, 21, 22, 23, 22, 23, 23, 24,
    22, 21, 20, 22, 22, 23, 23, 21, 23, 22, 22, 24, 21, 22, 23, 23,
    21, 21, 22, 21, 23, 22, 23, 23, 20, 22, 22, 22, 23, 22, 22, 23,
    26, 26, 20, 19, 22, 23, 22, 25, 26, 26, 26, 27, 27, 26, 24, 25,
    19, 21, 26, 27, 27, 26, 27, 24, 21, 21, 26, 26, 28, 27, 27, 27,
    20, 24, 20, 21, 22, 21, 21, 23, 22, 22, 25, 25, 24, 24, 26, 23,
    26, 27, 26, 26, 27, 27, 27, 27, 27, 28, 27, 27, 27, 27, 27, 26,
    30,
)

# decode tree: {bit: {bit: ... -> symbol}}
_HUFF_TREE: dict = {}
for _sym, (_code, _len) in enumerate(zip(_HUFF_CODES, _HUFF_LENGTHS)):
    node = _HUFF_TREE
    for i in range(_len - 1, -1, -1):
        bit = (_code >> i) & 1
        if i == 0:
            node[bit] = _sym
        else:
            node = node.setdefault(bit, {})


def huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    node = _HUFF_TREE
    pad_ok = True
    for byte in data:
        for i in range(7, -1, -1):
            bit = (byte >> i) & 1
            nxt = node[bit]
            if isinstance(nxt, int):
                if nxt == 256:
                    raise ValueError("HPACK: EOS symbol in Huffman data")
                out.append(nxt)
                node = _HUFF_TREE
                pad_ok = True
            else:
                node = nxt
                pad_ok = pad_ok and bit == 1
    if node is not _HUFF_TREE and not pad_ok:
        raise ValueError("HPACK: invalid Huffman padding")
    return bytes(out)


# ---------------------------------------------------------------------------
# HPACK (RFC 7541)
# ---------------------------------------------------------------------------

_STATIC_TABLE = (
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""),
    ("access-control-allow-origin", ""), ("age", ""), ("allow", ""),
    ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""),
    ("content-location", ""), ("content-range", ""), ("content-type", ""),
    ("cookie", ""), ("date", ""), ("etag", ""), ("expect", ""),
    ("expires", ""), ("from", ""), ("host", ""), ("if-match", ""),
    ("if-modified-since", ""), ("if-none-match", ""), ("if-range", ""),
    ("if-unmodified-since", ""), ("last-modified", ""), ("link", ""),
    ("location", ""), ("max-forwards", ""), ("proxy-authenticate", ""),
    ("proxy-authorization", ""), ("range", ""), ("referer", ""),
    ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""),
    ("via", ""), ("www-authenticate", ""),
)


class HpackDecoder:
    """Stateful HPACK decoder (one per connection direction)."""

    def __init__(self, max_table_size: int = 4096):
        self.dynamic: list[tuple[str, str]] = []
        self.max_size = max_table_size
        # RFC 7541 §4.2: dynamic-table size updates above the advertised
        # SETTINGS_HEADER_TABLE_SIZE are a decoding error (unbounded growth
        # would be a memory DoS); we never advertise a different value.
        self.settings_max_size = max_table_size
        self.size = 0

    @staticmethod
    def _entry_size(name: str, value: str) -> int:
        return len(name.encode()) + len(value.encode()) + 32

    def _evict(self) -> None:
        while self.size > self.max_size and self.dynamic:
            n, v = self.dynamic.pop()
            self.size -= self._entry_size(n, v)

    def _add(self, name: str, value: str) -> None:
        self.dynamic.insert(0, (name, value))
        self.size += self._entry_size(name, value)
        self._evict()

    def _lookup(self, idx: int) -> tuple[str, str]:
        if idx <= 0:
            raise ValueError("HPACK: index 0")
        if idx <= len(_STATIC_TABLE):
            return _STATIC_TABLE[idx - 1]
        d = idx - len(_STATIC_TABLE) - 1
        if d >= len(self.dynamic):
            raise ValueError(f"HPACK: index {idx} out of range")
        return self.dynamic[d]

    @staticmethod
    def _int(data: bytes, pos: int, prefix: int) -> tuple[int, int]:
        mask = (1 << prefix) - 1
        v = data[pos] & mask
        pos += 1
        if v < mask:
            return v, pos
        shift = 0
        while True:
            b = data[pos]
            pos += 1
            v += (b & 0x7F) << shift
            shift += 7
            if not (b & 0x80):
                return v, pos

    def _string(self, data: bytes, pos: int) -> tuple[str, int]:
        huff = bool(data[pos] & 0x80)
        length, pos = self._int(data, pos, 7)
        raw = data[pos:pos + length]
        pos += length
        if huff:
            raw = huffman_decode(raw)
        return raw.decode("utf-8", "surrogateescape"), pos

    def decode(self, data: bytes) -> list[tuple[str, str]]:
        out: list[tuple[str, str]] = []
        pos = 0
        while pos < len(data):
            b = data[pos]
            if b & 0x80:                       # indexed
                idx, pos = self._int(data, pos, 7)
                out.append(self._lookup(idx))
            elif b & 0x40:                     # literal w/ incremental indexing
                idx, pos = self._int(data, pos, 6)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = self._string(data, pos)
                value, pos = self._string(data, pos)
                self._add(name, value)
                out.append((name, value))
            elif b & 0x20:                     # dynamic table size update
                size, pos = self._int(data, pos, 5)
                if size > self.settings_max_size:
                    raise ValueError(
                        "HPACK table size update %d exceeds advertised "
                        "SETTINGS_HEADER_TABLE_SIZE %d"
                        % (size, self.settings_max_size))
                self.max_size = size
                self._evict()
            else:                              # literal w/o indexing / never
                idx, pos = self._int(data, pos, 4)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = self._string(data, pos)
                value, pos = self._string(data, pos)
                out.append((name, value))
        return out


def _hpack_int(value: int, prefix: int, flags: int = 0) -> bytes:
    mask = (1 << prefix) - 1
    if value < mask:
        return bytes([flags | value])
    out = bytearray([flags | mask])
    value -= mask
    while value >= 0x80:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def hpack_encode(headers: list[tuple[str, str]]) -> bytes:
    """Encode every header as 'literal without indexing — new name',
    plain (non-Huffman) strings: stateless and always valid."""
    out = bytearray()
    for name, value in headers:
        out += b"\x00"
        nb, vb = name.encode(), value.encode()
        out += _hpack_int(len(nb), 7) + nb
        out += _hpack_int(len(vb), 7) + vb
    return bytes(out)


# ---------------------------------------------------------------------------
# HTTP/2 framing (RFC 7540)
# ---------------------------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
_F_DATA, _F_HEADERS, _F_PRIORITY, _F_RST, _F_SETTINGS = 0, 1, 2, 3, 4
_F_PUSH, _F_PING, _F_GOAWAY, _F_WINDOW, _F_CONT = 5, 6, 7, 8, 9
FLAG_END_STREAM, FLAG_END_HEADERS, FLAG_ACK, FLAG_PADDED = 0x1, 0x4, 0x1, 0x8
_CONNECTION_WINDOW_TOPUP = 1 << 20


def _frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (len(payload).to_bytes(3, "big") + bytes([ftype, flags])
            + struct.pack(">I", stream_id & 0x7FFFFFFF) + payload)


def _read_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def _read_frame(sock: socket.socket) -> tuple[int, int, int, bytes]:
    head = _read_exact(sock, 9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = struct.unpack(">I", head[5:9])[0] & 0x7FFFFFFF
    payload = _read_exact(sock, length) if length else b""
    return ftype, flags, stream_id, payload


@dataclass
class Stream:
    stream_id: int
    headers: dict[str, str]
    buffer: bytearray = field(default_factory=bytearray)
    ended: bool = False
    responded: bool = False
    state: dict = field(default_factory=dict)   # per-stream service state


class GrpcService:
    """Base class: override. ``on_message`` fires once per complete
    gRPC-framed message (enables bidirectional streaming — returned
    messages are written to the SAME stream immediately); ``on_end``
    returns (final_response_messages, trailer_headers) after the
    client half-closes."""

    def on_headers(self, stream: Stream) -> None:
        pass

    def on_message(self, stream: Stream, message: bytes) -> list[bytes]:
        return []

    def on_end(self, stream: Stream) -> tuple[list[bytes], list[tuple[str, str]]]:
        return [], [("grpc-status", "0")]


class GrpcError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


class BodyTooLarge(ValueError):
    """A compressed body inflates past its cap."""


def inflate(data: bytes, wbits: int, cap: int) -> bytes:
    """Decompress a gzip (``wbits=31``) or zlib (``wbits=15``) body,
    never holding more than ``cap + 1`` output bytes. Raises
    ``BodyTooLarge`` past ``cap`` and ``ValueError`` for a corrupt or
    truncated stream. Concatenated gzip members are read in turn, as
    ``gzip.decompress`` reads them."""
    out = b""
    while True:
        d = zlib.decompressobj(wbits)
        try:
            out += d.decompress(data, cap + 1 - len(out))
        except zlib.error as e:
            raise ValueError(f"corrupt compressed body ({e})") from None
        if len(out) > cap:
            raise BodyTooLarge(f"decompressed body exceeds {cap} bytes")
        if not d.eof:
            raise ValueError("truncated compressed body")
        data = d.unused_data
        if wbits != 31 or not data:
            return out


def grpc_frame(message: bytes, compressed: bool = False) -> bytes:
    return bytes([1 if compressed else 0]) + struct.pack(">I", len(message)) + message


def _pop_grpc_frames(buf: bytearray, max_message_bytes: int) -> list[bytes]:
    """Consume complete length-prefixed gRPC messages from ``buf``."""
    out = []
    while len(buf) >= 5:
        compressed, length = buf[0], struct.unpack(">I", bytes(buf[1:5]))[0]
        if length > max_message_bytes:
            raise GrpcError(8, f"message of {length} bytes exceeds limit")
        if len(buf) < 5 + length:
            break
        msg = bytes(buf[5:5 + length])
        del buf[:5 + length]
        if compressed:
            try:
                msg = inflate(msg, 31, max_message_bytes)
            except BodyTooLarge as e:
                raise GrpcError(8, str(e)) from None
            except ValueError as e:
                raise GrpcError(13, str(e)) from None   # INTERNAL
        out.append(msg)
    return out


class H2cGrpcServer:
    """Threaded prior-knowledge h2c listener dispatching gRPC streams
    to a service router: {path_prefix or exact path: GrpcService
    factory}."""

    def __init__(self, host: str, port: int,
                 services: dict[str, type | object],
                 max_message_bytes: int = 16 * 1024 * 1024,
                 reuse_port: bool = True):
        self.services = services
        self.max_message_bytes = max_message_bytes
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        if reuse_port:
            self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
        self._sock.bind((host, port))
        self._sock.listen(128)
        self.port = self._sock.getsockname()[1]
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._accept_loop,
                                        name="h2c-accept", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(target=self._serve_conn, args=(conn,),
                             name="h2c-conn", daemon=True).start()

    def _service_for(self, path: str):
        svc = self.services.get(path)
        if svc is None:
            for prefix, s in self.services.items():
                if path.startswith(prefix):
                    svc = s
                    break
        if svc is None:
            return None
        return svc() if isinstance(svc, type) else svc

    def _serve_conn(self, sock: socket.socket) -> None:
        try:
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            if _read_exact(sock, len(PREFACE)) != PREFACE:
                sock.close()
                return
            send_lock = threading.Lock()

            def send(data: bytes) -> None:
                with send_lock:
                    sock.sendall(data)

            send(_frame(_F_SETTINGS, 0, 0, b""))
            send(_frame(_F_WINDOW, 0, 0,
                        struct.pack(">I", _CONNECTION_WINDOW_TOPUP)))
            decoder = HpackDecoder()
            streams: dict[int, Stream] = {}
            handlers: dict[int, object] = {}
            header_frags: dict[int, bytearray] = {}

            while True:
                ftype, flags, sid, payload = _read_frame(sock)
                if ftype == _F_SETTINGS:
                    if not flags & FLAG_ACK:
                        send(_frame(_F_SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == _F_PING:
                    if not flags & FLAG_ACK:
                        send(_frame(_F_PING, FLAG_ACK, 0, payload))
                elif ftype == _F_GOAWAY:
                    return
                elif ftype in (_F_WINDOW, _F_PRIORITY, _F_RST, _F_PUSH):
                    if ftype == _F_RST:
                        streams.pop(sid, None)
                        handlers.pop(sid, None)
                elif ftype in (_F_HEADERS, _F_CONT):
                    frag = header_frags.setdefault(sid, bytearray())
                    block = payload
                    if ftype == _F_HEADERS:
                        if flags & FLAG_PADDED:
                            pad = block[0]
                            if pad >= len(block):   # RFC 7540 §6.2: padding
                                # >= payload length is a PROTOCOL_ERROR
                                raise ValueError("HEADERS pad length %d >= "
                                                 "payload %d" % (pad, len(block)))
                            block = block[1:len(block) - pad]
                        if flags & 0x20:        # PRIORITY present
                            block = block[5:]
                    frag += block
                    if flags & FLAG_END_HEADERS:
                        pairs = decoder.decode(bytes(frag))
                        del header_frags[sid]
                        if sid in streams:      # trailers from client: ignore
                            continue
                        headers = dict(pairs)
                        stream = Stream(sid, headers)
                        streams[sid] = stream
                        handler = self._service_for(headers.get(":path", ""))
                        if handler is None:
                            self._send_reject(send, sid, 12, "unimplemented")
                            streams.pop(sid, None)
                            continue
                        handlers[sid] = handler
                        try:
                            handler.on_headers(stream)
                        except GrpcError as e:
                            self._send_reject(send, sid, e.status, e.message)
                            streams.pop(sid, None)
                            handlers.pop(sid, None)
                            continue
                        if flags & FLAG_END_STREAM:
                            self._finish(send, stream, handlers.pop(sid))
                            streams.pop(sid, None)
                elif ftype == _F_DATA:
                    # Receive flow control: the CONNECTION window top-up must
                    # happen for every DATA payload, even on unknown/rejected/
                    # completed streams — their bytes still drained the
                    # connection window, and a compliant client that keeps
                    # sending after a reject would otherwise stall later
                    # streams on a long-lived connection (RFC 7540 §6.9.1).
                    if payload:
                        send(_frame(_F_WINDOW, 0, 0,
                                    struct.pack(">I", len(payload))))
                    stream = streams.get(sid)
                    if stream is None:
                        continue
                    data = payload
                    if flags & FLAG_PADDED:
                        pad = data[0]
                        if pad >= len(data):    # RFC 7540 §6.1: padding >=
                            # payload length is a PROTOCOL_ERROR
                            raise ValueError("DATA pad length %d >= payload %d"
                                             % (pad, len(data)))
                        data = data[1:len(data) - pad]
                    # stream-level window top-up only while the stream lives
                    if payload:
                        send(_frame(_F_WINDOW, 0, sid,
                                    struct.pack(">I", len(payload))))
                    stream.buffer += data
                    handler = handlers.get(sid)
                    try:
                        for msg in _pop_grpc_frames(stream.buffer,
                                                    self.max_message_bytes):
                            for resp in handler.on_message(stream, msg):
                                self._send_message(send, stream, resp)
                        if flags & FLAG_END_STREAM:
                            self._finish(send, stream, handlers.pop(sid))
                            streams.pop(sid, None)
                    except GrpcError as e:
                        self._send_reject(send, sid, e.status, e.message,
                                          headers_sent=stream.responded)
                        streams.pop(sid, None)
                        handlers.pop(sid, None)
        except (ConnectionError, OSError):
            pass
        except Exception:  # noqa: BLE001 — malformed frame/HPACK from a bad
            # peer must never leave a wedged half-open connection; GOAWAY
            # then close is the RFC 7540 protocol-error path
            try:
                sock.sendall(_frame(_F_GOAWAY, 0, 0,
                                    struct.pack(">II", 0, 0x1)))  # PROTOCOL_ERROR
            except OSError:
                pass
        finally:
            try:
                sock.close()
            except OSError:
                pass

    @staticmethod
    def _response_headers() -> bytes:
        return hpack_encode([(":status", "200"),
                             ("content-type", "application/grpc")])

    def _send_message(self, send, stream: Stream, message: bytes) -> None:
        if not stream.responded:
            send(_frame(_F_HEADERS, FLAG_END_HEADERS, stream.stream_id,
                        self._response_headers()))
            stream.responded = True
        send(_frame(_F_DATA, 0, stream.stream_id, grpc_frame(message)))

    def _finish(self, send, stream: Stream, handler) -> None:
        try:
            messages, trailers = handler.on_end(stream)
        except GrpcError as e:
            self._send_reject(send, stream.stream_id, e.status, e.message,
                              headers_sent=stream.responded)
            return
        for m in messages:
            self._send_message(send, stream, m)
        if not stream.responded:
            send(_frame(_F_HEADERS, FLAG_END_HEADERS, stream.stream_id,
                        self._response_headers()))
            stream.responded = True
        send(_frame(_F_HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                    stream.stream_id, hpack_encode(trailers)))

    @staticmethod
    def _send_reject(send, sid: int, status: int, message: str,
                     headers_sent: bool = False) -> None:
        """Trailers-only response (or trailers after headers) carrying
        grpc-status — the gRPC error contract."""
        headers = [("grpc-status", str(status)), ("grpc-message", message)]
        if not headers_sent:
            headers = [(":status", "200"),
                       ("content-type", "application/grpc")] + headers
        send(_frame(_F_HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM, sid,
                    hpack_encode(headers)))
        # RST_STREAM(NO_ERROR) after the trailers tells a client that is
        # still sending its body to stop (RFC 7540 §8.1) — otherwise its
        # remaining DATA only burns window until end-of-stream.
        send(_frame(_F_RST, 0, sid, struct.pack(">I", 0)))


# ---------------------------------------------------------------------------
# Client (testing / local tooling)
# ---------------------------------------------------------------------------

class GrpcClient:
    """Minimal h2c gRPC client: one connection, sequential streams."""

    def __init__(self, host: str, port: int, timeout: float = 30.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._sock.sendall(PREFACE + _frame(_F_SETTINGS, 0, 0, b""))
        self._decoder = HpackDecoder()
        self._next_stream = 1

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def call(self, path: str, messages: list[bytes],
             metadata: list[tuple[str, str]] | None = None,
             ) -> tuple[dict[str, str], list[bytes]]:
        """Send a stream of gRPC messages, half-close, and collect the
        response messages + merged response/trailer headers."""
        sid = self._next_stream
        self._next_stream += 2
        headers = [(":method", "POST"), (":scheme", "http"),
                   (":path", path), (":authority", "localhost"),
                   ("content-type", "application/grpc"), ("te", "trailers")]
        headers += metadata or []
        self._sock.sendall(_frame(_F_HEADERS, FLAG_END_HEADERS, sid,
                                  hpack_encode(headers)))
        body = b"".join(grpc_frame(m) for m in messages)
        mx = 16384 - 1
        chunks = [body[i:i + mx] for i in range(0, len(body), mx)] or [b""]
        for i, chunk in enumerate(chunks):
            fl = FLAG_END_STREAM if i == len(chunks) - 1 else 0
            self._sock.sendall(_frame(_F_DATA, fl, sid, chunk))
        resp_headers: dict[str, str] = {}
        resp_msgs: list[bytes] = []
        buf = bytearray()
        while True:
            ftype, flags, fsid, payload = _read_frame(self._sock)
            if ftype == _F_SETTINGS:
                if not flags & FLAG_ACK:
                    self._sock.sendall(_frame(_F_SETTINGS, FLAG_ACK, 0, b""))
                continue
            if ftype == _F_PING and not flags & FLAG_ACK:
                self._sock.sendall(_frame(_F_PING, FLAG_ACK, 0, payload))
                continue
            if ftype in (_F_WINDOW, _F_PRIORITY):
                continue
            if ftype == _F_GOAWAY:
                raise ConnectionError("server sent GOAWAY")
            if fsid != sid:
                continue
            if ftype == _F_HEADERS:
                resp_headers.update(dict(self._decoder.decode(payload)))
                if flags & FLAG_END_STREAM:
                    return resp_headers, resp_msgs
            elif ftype == _F_DATA:
                buf += payload
                while len(buf) >= 5:
                    ln = struct.unpack(">I", bytes(buf[1:5]))[0]
                    if len(buf) < 5 + ln:
                        break
                    resp_msgs.append(bytes(buf[5:5 + ln]))
                    del buf[:5 + ln]
                if flags & FLAG_END_STREAM:
                    return resp_headers, resp_msgs


def grpc_call(host: str, port: int, path: str, message: bytes,
              metadata: list[tuple[str, str]] | None = None,
              ) -> tuple[dict[str, str], list[bytes]]:
    """One unary gRPC call over a fresh h2c connection."""
    client = GrpcClient(host, port)
    try:
        return client.call(path, [message], metadata)
    finally:
        client.close()
