"""OTLP/gRPC unary Export transport over the from-scratch h2c stack
(reference: otlp_serve(transport := 'grpc'), serve.md:307-326,
src/otlp_server_grpc.cpp): the standard collector services on one
port, sharing the HTTP path's edge contracts — token auth
(UNAUTHENTICATED), admission cap (RESOURCE_EXHAUSTED), malformed body
(INVALID_ARGUMENT) — plus HPACK/h2 protocol unit coverage.
"""

from __future__ import annotations

import json

import pytest

from duckdb_otlp_spark.streaming.h2c import (
    HpackDecoder,
    hpack_encode,
    huffman_decode,
)
from duckdb_otlp_spark.streaming.receiver import OtlpHttpReceiver
from duckdb_otlp_spark.sources.otlp_proto_encode import encode_envelope_pb
from tests.fixtures import LOGS_SIMPLE, METRICS_SIMPLE, TRACES_SIMPLE

TOKEN = "test-token-0123456789abcdef"
LOGS_PATH = "/opentelemetry.proto.collector.logs.v1.LogsService/Export"
TRACES_PATH = "/opentelemetry.proto.collector.trace.v1.TraceService/Export"
METRICS_PATH = "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export"


# --- HPACK / Huffman units -------------------------------------------------

def test_huffman_decode_spec_example():
    # RFC 7541 C.4.1: "www.example.com" Huffman-encoded
    data = bytes.fromhex("f1e3c2e5f23a6ba0ab90f4ff")
    assert huffman_decode(data) == b"www.example.com"


def test_hpack_roundtrip_and_indexed_fields():
    dec = HpackDecoder()
    headers = [(":status", "200"), ("content-type", "application/grpc"),
               ("grpc-status", "0")]
    assert dec.decode(hpack_encode(headers)) == headers
    # fully-indexed static entry (index 3 = :method POST)
    assert dec.decode(bytes([0x83])) == [(":method", "POST")]
    # literal with incremental indexing populates the dynamic table
    block = bytes([0x40, 0x01]) + b"k" + bytes([0x01]) + b"v"
    assert dec.decode(block) == [("k", "v")]
    assert dec.decode(bytes([0x80 | 62])) == [("k", "v")]


# --- gRPC ingest edge ------------------------------------------------------

@pytest.fixture()
def grpc_rcv(tmp_path):
    rcv = OtlpHttpReceiver("127.0.0.1", 0, tmp_path / "spool",
                           auth_token=TOKEN, transport="grpc",
                           accept_workers=2)
    rcv.start()
    yield rcv
    rcv.stop()


def _export(rcv, path, env, token=TOKEN, metadata=None):
    from duckdb_otlp_spark.streaming.h2c import grpc_call
    md = list(metadata or [])
    if token:
        md.append(("authorization", f"Bearer {token}"))
    return grpc_call("127.0.0.1", rcv.port, path, encode_envelope_pb(env), md)


def test_grpc_export_all_signals(grpc_rcv, tmp_path):
    for env in LOGS_SIMPLE:
        headers, msgs = _export(grpc_rcv, LOGS_PATH, env)
        assert headers["grpc-status"] == "0", headers
        assert msgs == [b""]        # empty ExportLogsServiceResponse
    assert _export(grpc_rcv, TRACES_PATH, TRACES_SIMPLE[0])[0]["grpc-status"] == "0"
    assert _export(grpc_rcv, METRICS_PATH, METRICS_SIMPLE[0])[0]["grpc-status"] == "0"
    st = grpc_rcv.stats
    assert st.accepted_requests == 5
    assert st.per_signal_requests == {"logs": 3, "traces": 1, "metrics": 1}
    # spooled lines are the same JSON envelope format the seal parses
    grpc_rcv.rotate_all()
    lines = []
    for p in (tmp_path / "spool" / "logs").iterdir():
        if not p.name.startswith("."):
            lines += [ln for ln in p.read_text().splitlines() if ln]
    assert len(lines) == 3
    assert all("resourceLogs" in json.loads(ln) for ln in lines)


def test_grpc_auth_unauthenticated(grpc_rcv):
    headers, _ = _export(grpc_rcv, LOGS_PATH, LOGS_SIMPLE[0], token=None)
    assert headers["grpc-status"] == "16"
    headers, _ = _export(grpc_rcv, LOGS_PATH, LOGS_SIMPLE[0],
                         token="wrong-token-16chars+")
    assert headers["grpc-status"] == "16"
    # x-api-key metadata path
    headers, _ = _export(grpc_rcv, LOGS_PATH, LOGS_SIMPLE[0], token=None,
                         metadata=[("x-api-key", TOKEN)])
    assert headers["grpc-status"] == "0"
    assert grpc_rcv.stats.rejected_auth == 2


def test_grpc_invalid_body_and_unknown_service(grpc_rcv):
    from duckdb_otlp_spark.streaming.h2c import grpc_call
    headers, _ = grpc_call("127.0.0.1", grpc_rcv.port, LOGS_PATH,
                           b"\xff\xfe garbage",
                           [("authorization", f"Bearer {TOKEN}")])
    assert headers["grpc-status"] == "3"
    headers, _ = grpc_call("127.0.0.1", grpc_rcv.port,
                           "/some.Unknown/Method", b"",
                           [("authorization", f"Bearer {TOKEN}")])
    assert headers["grpc-status"] == "12"


def test_grpc_admission_resource_exhausted(tmp_path):
    rcv = OtlpHttpReceiver("127.0.0.1", 0, tmp_path / "spool",
                           disable_auth=True, transport="grpc",
                           accept_workers=1, max_buffered_bytes=64)
    rcv.start()
    try:
        h1, _ = _export(rcv, LOGS_PATH, LOGS_SIMPLE[0], token=None)
        # fixture line > 64 bytes: the very first export hits the cap
        assert h1["grpc-status"] == "8"
        assert rcv.stats.rejected_503 == 1
    finally:
        rcv.stop()


@pytest.fixture()
def gzip_client(tmp_path, monkeypatch):
    """A client of a 4 KiB-capped gRPC receiver that sends every message
    with the compressed flag set."""
    from duckdb_otlp_spark.streaming import h2c

    rcv = OtlpHttpReceiver("127.0.0.1", 0, tmp_path / "spool",
                           disable_auth=True, transport="grpc",
                           accept_workers=1, max_body_bytes=4096)
    rcv.start()
    plain = h2c.grpc_frame
    monkeypatch.setattr(h2c, "grpc_frame",
                        lambda m, compressed=False: plain(m, True))
    client = h2c.GrpcClient("127.0.0.1", rcv.port)
    yield client
    client.close()
    rcv.stop()


def test_grpc_compressed_message_past_the_cap_is_resource_exhausted(gzip_client):
    import gzip

    ok = gzip.compress(encode_envelope_pb(LOGS_SIMPLE[0]))
    assert gzip_client.call(LOGS_PATH, [ok])[0]["grpc-status"] == "0"
    bomb = gzip.compress(b"\0" * (64 * 4096))
    assert len(bomb) < 4096                 # under the cap on the wire
    assert gzip_client.call(LOGS_PATH, [bomb])[0]["grpc-status"] == "8"


def test_grpc_corrupt_compressed_message_is_internal(gzip_client):
    """A corrupt or truncated gzip message gets INTERNAL, and the
    connection keeps serving."""
    import gzip

    ok = gzip.compress(encode_envelope_pb(LOGS_SIMPLE[0]))
    for bad in (ok[:len(ok) // 2], b"not compressed at all"):
        assert gzip_client.call(LOGS_PATH, [bad])[0]["grpc-status"] == "13"
    assert gzip_client.call(LOGS_PATH, [ok])[0]["grpc-status"] == "0"


def test_grpc_large_message_flow_control(grpc_rcv, tmp_path):
    """A ~1.5 MiB Export spans many DATA frames and exceeds the 64 KiB
    initial flow-control window — the server's WINDOW_UPDATE top-ups
    must keep the stream moving."""
    big = {"resourceLogs": [{
        "resource": {"attributes": [
            {"key": "service.name", "value": {"stringValue": "bulk"}}]},
        "scopeLogs": [{"scope": {"name": "bulk"}, "logRecords": [
            {"timeUnixNano": str(1700000000000000000 + i),
             "severityNumber": 9,
             "body": {"stringValue": "x" * 100 + str(i)}}
            for i in range(10000)]}]}]}
    headers, msgs = _export(grpc_rcv, LOGS_PATH, big)
    assert headers["grpc-status"] == "0", headers
    assert msgs == [b""]
    grpc_rcv.rotate_all()
    lines = []
    for p in (tmp_path / "spool" / "logs").iterdir():
        if not p.name.startswith("."):
            lines += [ln for ln in p.read_text().splitlines() if ln]
    env = json.loads(lines[-1])
    n = sum(len(sl["logRecords"]) for rl in env["resourceLogs"]
            for sl in rl["scopeLogs"])
    assert n == 10000


def test_grpc_metrics_partial_success_reports_skips(grpc_rcv):
    env = {"resourceMetrics": [{"scopeMetrics": [{"metrics": [
        {"name": "s", "summary": {"dataPoints": [
            {"timeUnixNano": "1", "count": "1", "sum": 1.0}]}},
        {"name": "g", "gauge": {"dataPoints": [
            {"timeUnixNano": "2", "asDouble": 1.5}]}},
    ]}]}]}
    headers, msgs = _export(grpc_rcv, METRICS_PATH, env)
    assert headers["grpc-status"] == "0"
    # ExportMetricsServiceResponse.partial_success.rejected_data_points=1
    from duckdb_otlp_spark.sources import otlp_proto
    assert len(msgs) == 1 and msgs[0] != b""
    assert grpc_rcv.stats.skipped_summary_points >= 1
    assert otlp_proto  # decoded server-side; response is non-empty pb


def test_grpc_malformed_peer_goaway_and_recovery(grpc_rcv):
    """Garbage frames from a bad peer get GOAWAY(PROTOCOL_ERROR) + a
    closed connection, never a wedged half-open one — and the listener
    keeps serving."""
    import socket

    from duckdb_otlp_spark.streaming.h2c import PREFACE
    s = socket.create_connection(("127.0.0.1", grpc_rcv.port), timeout=5)
    # valid preface, then a HEADERS frame whose payload is invalid HPACK
    s.sendall(PREFACE + b"\x00\x00\x08\x01\x04\x00\x00\x00\x01" + b"\xff" * 8)
    s.settimeout(10)
    data = b""
    while True:
        chunk = s.recv(4096)
        if not chunk:
            break
        data += chunk
    assert data, "expected GOAWAY before close"
    assert data[-9 - 8 + 3] == 7          # last frame type byte = GOAWAY
    headers, _ = _export(grpc_rcv, LOGS_PATH, LOGS_SIMPLE[0])
    assert headers["grpc-status"] == "0"


def test_grpc_end_to_end_seal(spark, tmp_path):
    from pyspark.sql import functions as F

    from duckdb_otlp_spark.streaming import otlp_serve, otlp_stop
    from duckdb_otlp_spark.streaming.server import _get
    info = otlp_serve(spark, "otlp://127.0.0.1:0", work_dir=str(tmp_path / "w"),
                      auth_token=TOKEN, seal_max_age_ms=500,
                      transport="grpc", warm_start=False).collect()[0]
    assert info["transport"] == "grpc"
    srv = _get(info["uri"])
    try:
        for env in LOGS_SIMPLE:
            headers, _ = _export(srv.receiver, LOGS_PATH, env)
            assert headers["grpc-status"] == "0"
        srv.flush()
        logs = spark.read.parquet(str(srv.export_root / "otlp_logs"))
        assert logs.count() == 3
        assert set(r["severity_text"] for r in
                   logs.select("severity_text").collect()) == \
            {"INFO", "WARN", "ERROR"}
        assert logs.filter(F.col("service_name") == "test-service").count() == 3
    finally:
        otlp_stop(spark, info["uri"], drain=False)


# --- flow-control / protocol-error hardening -------------------------------

def _read_frames(sock, deadline=10.0):
    """Yield (type, flags, sid, payload) until the peer closes or the
    deadline passes."""
    import struct as _struct
    import time as _time
    sock.settimeout(1.0)
    buf = b""
    end = _time.monotonic() + deadline
    while _time.monotonic() < end:
        while len(buf) >= 9:
            ln = int.from_bytes(buf[:3], "big")
            if len(buf) < 9 + ln:
                break
            ftype, flags = buf[3], buf[4]
            sid = _struct.unpack(">I", buf[5:9])[0] & 0x7FFFFFFF
            yield ftype, flags, sid, buf[9:9 + ln]
            buf = buf[9 + ln:]
        try:
            chunk = sock.recv(4096)
        except TimeoutError:
            continue
        except OSError:
            return
        if not chunk:
            return
        buf += chunk


def test_hpack_table_size_update_bounded():
    """RFC 7541 §4.2: a dynamic-table size update above the advertised
    SETTINGS_HEADER_TABLE_SIZE (4096, never changed by this server) is a
    decoding error, not an unbounded memory grant."""
    dec = HpackDecoder()
    # legal update: shrink to 0 then back within bounds
    assert dec.decode(bytes([0x20])) == []          # size 0
    assert dec.decode(bytes([0x20 | 0x1F, 0xE1, 0x1F])) == []  # 31+4065=4096
    with pytest.raises(ValueError, match="table size update"):
        # 31 + 8161 = 8192 > 4096
        dec.decode(bytes([0x20 | 0x1F, 0xE1, 0x3F]))


def test_padded_data_pad_too_large_is_protocol_error(grpc_rcv):
    """RFC 7540 §6.1: pad length >= payload length must tear the
    connection down via GOAWAY(PROTOCOL_ERROR), not corrupt the gRPC
    frame buffer with a wrong slice."""
    import socket
    import struct

    from duckdb_otlp_spark.streaming.h2c import PREFACE, hpack_encode

    def frame(ftype, flags, sid, payload):
        return (len(payload).to_bytes(3, "big") + bytes([ftype, flags])
                + struct.pack(">I", sid) + payload)

    s = socket.create_connection(("127.0.0.1", grpc_rcv.port), timeout=5)
    try:
        hdrs = hpack_encode([
            (":method", "POST"), (":scheme", "http"), (":path", LOGS_PATH),
            (":authority", "localhost"), ("content-type", "application/grpc"),
            ("authorization", f"Bearer {TOKEN}")])
        s.sendall(PREFACE + frame(1, 0x4, 1, hdrs))          # END_HEADERS
        # PADDED DATA: pad length 200 >= 3-byte payload
        s.sendall(frame(0, 0x8, 1, bytes([200]) + b"ab"))
        saw_goaway = any(f[0] == 7 for f in _read_frames(s))
        assert saw_goaway, "expected GOAWAY(PROTOCOL_ERROR)"
    finally:
        s.close()
    # listener still serves fresh connections
    headers, _ = _export(grpc_rcv, LOGS_PATH, LOGS_SIMPLE[0])
    assert headers["grpc-status"] == "0"


def test_window_topup_for_rejected_stream_data(grpc_rcv):
    """DATA arriving for a stream the server already rejected must still
    replenish the CONNECTION flow-control window (RFC 7540 §6.9.1) —
    otherwise a long-lived connection leaks window until later streams
    stall mid-body. The reject must also carry RST_STREAM so a compliant
    client stops sending."""
    import socket
    import struct

    from duckdb_otlp_spark.streaming.h2c import PREFACE, hpack_encode

    def frame(ftype, flags, sid, payload):
        return (len(payload).to_bytes(3, "big") + bytes([ftype, flags])
                + struct.pack(">I", sid) + payload)

    s = socket.create_connection(("127.0.0.1", grpc_rcv.port), timeout=5)
    try:
        # unknown service path -> rejected at on_headers (UNIMPLEMENTED)
        hdrs = hpack_encode([
            (":method", "POST"), (":scheme", "http"),
            (":path", "/no.such.Service/Export"),
            (":authority", "localhost"), ("content-type", "application/grpc")])
        s.sendall(PREFACE + frame(1, 0x4, 1, hdrs))
        # client keeps streaming its body after the reject
        probe = b"x" * 37
        s.sendall(frame(0, 0x0, 1, probe))
        s.sendall(frame(0, 0x1, 1, b""))                      # END_STREAM
        saw_rst = saw_topup = False
        for ftype, flags, sid, payload in _read_frames(s, deadline=5.0):
            if ftype == 3 and sid == 1:
                saw_rst = True
            if ftype == 8 and sid == 0 and \
                    struct.unpack(">I", payload)[0] & 0x7FFFFFFF == len(probe):
                saw_topup = True
            if saw_rst and saw_topup:
                break
        assert saw_topup, "connection window never replenished for rejected-stream DATA"
        assert saw_rst, "reject did not RST_STREAM the client"
    finally:
        s.close()
