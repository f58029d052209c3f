"""OTLP/HTTP ingest edge: auth, content negotiation, admission control,
spooling — the receiver half of the reference's ``otlp_serve``
(reference: src/otlp_server_http.cpp, src/otlp_server.cpp:380-557).

The receiver is deliberately outside Spark (SURVEY.md §3.2): it accepts
OTLP/JSON POSTs, applies the reference's edge contracts, and appends
accepted bodies as NDJSON into a per-signal spool directory whose
segments the server's per-signal sealer threads seal and then delete.
Durability contract preserved:
202 means buffered-in-spool, not committed — the same at-most-once
window the reference documents (reference: serve.md:363-369).

Process model: the accept path runs in ``accept_workers`` dedicated
worker PROCESSES, each binding the same port with ``SO_REUSEPORT`` so
the kernel load-balances connections across them. This mirrors the
reference's native listener threads (reference: otlp_server_http.cpp
uses a civetweb thread pool): a single-process Python receiver shares
the Spark driver's GIL, and the driver-side seal work (py4j round
trips, seal bookkeeping) was measured to cut acceptance from
~220k logs/s standalone to ~85k logs/s in-process. Admission state and
telemetry counters live in lock-guarded shared memory so every worker
sees one 512 MiB budget and ``otlp_server_list`` sees exact counts
(the counters are increments under a cross-process lock — never a
read-modify-write race).

Contracts matched:
- Bearer/x-api-key constant-time auth; tokens >= 16 chars; CSPRNG
  32-hex default (reference: otlp_server.cpp:380-423, 83-92).
- Content-Type -> {json, ndjson, protobuf}; protobuf decodes edge-side
  to a JSON envelope line; unknown -> 415. gzip/deflate/identity
  encodings; else 415 (reference: otlp_server.cpp:200-237).
- Body cap 16 MiB -> 413, on the wire and again after gzip/deflate
  decompression (which stops at the cap); a corrupt or truncated
  compressed body -> 400; admission cap 512 MiB of un-sealed spool
  bytes -> 503 (reference: otlp_ingest_limits.hpp).
- /healthz always 200; /readyz degrades when sealing stalls
  (reference: otlp_server_http.cpp:131-144).
- Metrics requests report skipped summary data points and skipped
  non-finite (NaN/Inf) number points in the 202 body and in the
  server-level counters (reference: otlp_server.cpp:699-702,
  otlp_server_http.cpp:171-179).
"""

from __future__ import annotations

import hmac
import json
import math
import multiprocessing as mp
import os
import secrets
import socket
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

from duckdb_otlp_spark.streaming.h2c import BodyTooLarge, inflate

# reference: src/include/otlp_ingest_limits.hpp
DEFAULT_MAX_BODY_BYTES = 16 * 1024 * 1024
DEFAULT_MAX_BUFFERED_BYTES = 512 * 1024 * 1024
DEFAULT_ACCEPT_WORKERS = 2

_SIGNAL_PATHS = {
    "/v1/logs": "logs",
    "/v1/traces": "traces",
    "/v1/metrics": "metrics",
}

# OTAP BatchArrowRecords over HTTP POST (the reference's otap_serve is
# Arrow gRPC — reference: src/otlp_server_grpc.cpp:95-133; no grpc
# runtime ships in this environment, so the same messages are accepted
# as HTTP bodies with identical decode semantics)
_OTAP_CTYPES = ("application/vnd.otel.arrow", "application/x-otap")

# Rolling spool segments: many tiny request-sized files would make the
# seal's scan one-task-per-file (task-launch overhead dwarfs the parse)
# and at production rates would mean thousands of files/second of
# listing load. Segments target the same order of magnitude as the
# reference's seal_target_bytes admission batching
# (reference: otlp_ingest_limits.hpp DEFAULT_SEAL_TARGET_BYTES).
#
# Sized so a seal-cadence batch fills the machine: the seal scan plans
# ONE task per visible segment (coalesce can only merge), so segment
# size caps seal parallelism at (rate x trigger / size) tasks. At the
# 175k logs/s capacity-gate rate (~61 MB/s of spooled text) a 2 s
# trigger yields ~15 tasks with 8 MiB segments — half a 32-thread
# executor idle through every seal — vs ~40 with 3 MiB (r8: measured
# zero-503 full-duration gate after the change, from ~1-13% shed
# before). Each seal deletes the segments it sealed, which bounds the
# file count either way.
DEFAULT_SEGMENT_ROTATE_BYTES = 3 * 1024 * 1024
DEFAULT_SEGMENT_ROTATE_MS = 500


class _SpoolSegmentWriter:
    """Appends accepted envelope lines to a per-signal rolling segment.

    A segment is written as a dot-prefixed temp file (hidden from Spark
    file sources) and renamed visible on rotation, so the seal never
    observes a partially-written segment — the same
    atomic-visibility contract the old one-file-per-request spool had,
    at ~1/100th the file count."""

    def __init__(self, directory: Path,
                 rotate_bytes: int = DEFAULT_SEGMENT_ROTATE_BYTES,
                 rotate_ms: int = DEFAULT_SEGMENT_ROTATE_MS):
        self.directory = directory
        self.rotate_bytes = rotate_bytes
        self.rotate_ms = rotate_ms
        self._lock = threading.Lock()
        self._fh = None
        self._tmp_path: Path | None = None
        self._bytes = 0
        self._opened = 0.0

    def append(self, lines: list[str]) -> None:
        self.append_bytes(("\n".join(lines) + "\n").encode())

    def append_bytes(self, data: bytes) -> None:
        """``data`` must be newline-terminated NDJSON bytes."""
        with self._lock:
            if self._fh is None:
                name = f".seg_{uuid.uuid4().hex}.jsonl.tmp"
                self._tmp_path = self.directory / name
                self._fh = self._tmp_path.open("wb")
                self._bytes = 0
                self._opened = time.monotonic()
            self._fh.write(data)
            # flush to the OS page cache: a SIGKILLed worker then loses at
            # most a torn final line, not its whole userspace buffer — the
            # orphaned .tmp is recovered (renamed visible) at next start
            self._fh.flush()
            self._bytes += len(data)
            if (self._bytes >= self.rotate_bytes
                    or (time.monotonic() - self._opened) * 1000 >= self.rotate_ms):
                self._rotate_locked()

    def _rotate_locked(self) -> None:
        fh, tmp = self._fh, self._tmp_path
        self._fh = self._tmp_path = None
        if fh is None:
            return
        fh.close()
        # strip the ".tmp" suffix AND the hidden dot prefix in one rename
        tmp.rename(tmp.parent / tmp.name[1:-len(".tmp")])

    def rotate(self) -> None:
        """Make everything appended so far visible to the seal."""
        with self._lock:
            self._rotate_locked()

    def rotate_if_stale(self) -> None:
        with self._lock:
            if (self._fh is not None
                    and (time.monotonic() - self._opened) * 1000 >= self.rotate_ms):
                self._rotate_locked()


# ---------------------------------------------------------------------------
# Cross-process shared state
# ---------------------------------------------------------------------------

_COUNTERS = (
    "requests_total", "accepted_requests", "admitted_bytes_total",
    "rejected_auth", "rejected_413", "rejected_415", "rejected_503",
    "logs_requests", "traces_requests", "metrics_requests",
    "logs_admitted_bytes", "traces_admitted_bytes", "metrics_admitted_bytes",
    "skipped_summary_points", "skipped_nan_points",
)
_IDX = {name: i for i, name in enumerate(_COUNTERS)}


@dataclass
class ReceiverStats:
    """Point-in-time snapshot of the shared counters (shape kept for
    ``otlp_server_list`` and the tests)."""
    requests_total: int = 0
    accepted_requests: int = 0
    admitted_bytes_total: int = 0
    rejected_auth: int = 0
    rejected_413: int = 0
    rejected_415: int = 0
    rejected_503: int = 0
    skipped_summary_points: int = 0
    skipped_nan_points: int = 0
    per_signal_requests: dict[str, int] = field(
        default_factory=lambda: {"logs": 0, "traces": 0, "metrics": 0})
    per_signal_admitted_bytes: dict[str, int] = field(
        default_factory=lambda: {"logs": 0, "traces": 0, "metrics": 0})


class _Shared:
    """Admission budget + telemetry counters shared by every accept
    worker and the parent. All mutation is an increment under the
    array/value's own cross-process lock — the reference keeps these as
    atomics on the native side (otlp_server.cpp ingest stats)."""

    def __init__(self, ctx) -> None:
        self.counters = ctx.Array("q", len(_COUNTERS))       # locked
        self.buffered = ctx.Value("q", 0)                    # locked
        # per-signal un-sealed byte gauges (reference keeps these per
        # signal too: otlp_start_stop.cpp server-list columns)
        self.buffered_by_signal = {
            sig: ctx.Value("q", 0) for sig in ("logs", "traces", "metrics")}
        self.seal_failures = ctx.Value("q", 0)
        self.last_seal_unix_ms = ctx.Value("q", -1)

    def inc(self, name: str, n: int = 1) -> None:
        with self.counters.get_lock():
            self.counters[_IDX[name]] += n

    def get(self, name: str) -> int:
        return self.counters[_IDX[name]]

    def try_reserve(self, n: int, cap: int, signal: str) -> bool:
        with self.buffered.get_lock():
            if self.buffered.value + n > cap:
                return False
            self.buffered.value += n
        sig = self.buffered_by_signal[signal]
        with sig.get_lock():
            sig.value += n
        return True

    def release(self, n: int, signal: str | None = None) -> None:
        with self.buffered.get_lock():
            self.buffered.value = max(0, self.buffered.value - n)
        if signal is not None:
            sig = self.buffered_by_signal[signal]
            with sig.get_lock():
                sig.value = max(0, sig.value - n)


@dataclass
class _WorkerConfig:
    """Picklable config handed to each spawned accept worker."""
    host: str
    port: int
    spool_dir: str
    auth_token: str | None
    disable_auth: bool
    max_body_bytes: int
    max_buffered_bytes: int
    formats: str
    transport: str          # "http" | "grpc"
    stall_after_ms: int     # readiness window: STALL_SEAL_CYCLES * seal age
    pkg_root: str


def _spool_payload(body: bytes) -> tuple[bytes, int]:
    """Cheap-validate an accepted JSON body and shape it into
    newline-terminated NDJSON spool bytes; returns (data, n_lines).

    Validation here is a prefix check only (every envelope line must
    open with '{'): full JSON validation on the accept path was the
    single biggest GIL cost. This is a DELIBERATE divergence from the
    reference, which fully parses at ingest and 400s malformed bodies
    (otlp_server.cpp:596-602) — we trade that for edge throughput. The
    consequence is that a 202-accepted body can still be dropped by the
    seal's lax ``from_json``; that loss is counted per seal and surfaced
    as ``seal_malformed_lines`` in otlp_server_list plus a WARN line in
    otlp_server_log, so a client with a broken exporter is observable
    even though it got a success status. Raises ValueError -> 400."""
    stripped = body.strip()
    if not stripped:
        raise ValueError("empty body")
    if b"\n" not in stripped:
        if not stripped.startswith(b"{"):
            raise ValueError("body is not a JSON object")
        return stripped + b"\n", 1
    lines = [ln for ln in (s.strip() for s in stripped.split(b"\n")) if ln]
    for ln in lines:
        if not ln.startswith(b"{"):
            raise ValueError("NDJSON line is not a JSON object")
    return b"\n".join(lines) + b"\n", len(lines)


def _count_metric_skips(env: dict) -> tuple[int, int]:
    """Count summary data points (unsupported shape, dropped at seal)
    and non-finite gauge/sum number points in one metrics envelope —
    the reference's per-request skip report
    (reference: otlp_server.cpp:699-702)."""
    summary = nan = 0
    for rm in env.get("resourceMetrics") or []:
        for sm in rm.get("scopeMetrics") or []:
            for m in sm.get("metrics") or []:
                if "summary" in m:
                    summary += len((m["summary"] or {}).get("dataPoints") or [])
                for shape in ("gauge", "sum"):
                    if shape in m:
                        for dp in (m[shape] or {}).get("dataPoints") or []:
                            v = dp.get("asDouble")
                            if isinstance(v, float) and not math.isfinite(v):
                                nan += 1
    return summary, nan


class _ReusePortHTTPServer(ThreadingHTTPServer):
    daemon_threads = True
    allow_reuse_address = True

    def server_bind(self):
        self.socket.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEPORT, 1)
        super().server_bind()


def _make_handler(cfg: _WorkerConfig, shared: _Shared,
                  writers: dict[str, _SpoolSegmentWriter]):
    def check_auth(headers) -> bool:
        if cfg.disable_auth:
            return True
        supplied = ""
        auth = headers.get("Authorization", "")
        if auth.startswith("Bearer "):
            supplied = auth[len("Bearer "):]
        elif headers.get("x-api-key"):
            supplied = headers.get("x-api-key")
        # constant-time compare (reference: otlp_server.cpp:83-92)
        return hmac.compare_digest(supplied.encode(), (cfg.auth_token or "").encode())

    def ready() -> bool:
        """Degrade /readyz when sealing stalls — computed worker-side
        from the parent-published seal state
        (reference: otlp_server.cpp:310-317)."""
        if shared.seal_failures.value == 0 or shared.buffered.value == 0:
            return True
        last = shared.last_seal_unix_ms.value
        if last < 0:
            return False
        return int(time.time() * 1000) - last <= cfg.stall_after_ms

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # TCP_NODELAY: without it every keep-alive request/response
        # pair risks a ~40 ms Nagle/delayed-ACK stall — measured 67k
        # -> 142k logs/s accepted on the 4-producer bench shape
        disable_nagle_algorithm = True
        # buffer the response so status+headers+body leave as one
        # packet instead of four syscalls/segments
        wbufsize = 64 * 1024

        def log_message(self, *a):  # quiet
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/healthz":
                return self._reply(200, {"status": "ok"})
            if self.path == "/readyz":
                ok = ready()
                return self._reply(200 if ok else 503,
                                   {"status": "ok" if ok else "degraded"})
            return self._reply(404, {"error": "not found"})

        def _drain(self):
            """Discard the unread request body in chunks so the client
            is never blocked mid-send when we reject before reading."""
            left = int(self.headers.get("Content-Length") or 0)
            while left > 0:
                chunk = self.rfile.read(min(left, 1 << 16))
                if not chunk:
                    break
                left -= len(chunk)

        def do_POST(self):
            shared.inc("requests_total")
            signal = _SIGNAL_PATHS.get(self.path)
            if signal is None:
                self._drain()
                return self._reply(404, {"error": "unknown path"})
            if not check_auth(self.headers):
                shared.inc("rejected_auth")
                self._drain()
                return self._reply(401, {"error": "unauthorized"})

            ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
            is_pb = ctype in ("application/x-protobuf", "application/protobuf")
            is_otap = ctype in _OTAP_CTYPES
            # an otap: listener accepts ONLY Arrow payloads, an otlp:
            # listener only OTLP ones — scheme selects the protocol,
            # like the reference's otlp_serve/otap_serve split
            allowed = (is_otap if cfg.formats == "otap"
                       else (is_pb or ctype in ("application/json",
                                                "application/x-ndjson")))
            if not allowed:
                shared.inc("rejected_415")
                self._drain()
                return self._reply(415, {"error": f"unsupported content type {ctype}"})

            enc = (self.headers.get("Content-Encoding") or "identity").strip()
            if enc not in ("identity", "gzip", "deflate"):
                shared.inc("rejected_415")
                self._drain()
                return self._reply(415, {"error": f"unsupported encoding {enc}"})

            n = int(self.headers.get("Content-Length") or 0)
            if n > cfg.max_body_bytes:
                shared.inc("rejected_413")
                self.close_connection = True
                self._drain()
                return self._reply(413, {"error": "body too large"})
            body = self.rfile.read(n)
            if enc != "identity":
                try:
                    body = inflate(body, 31 if enc == "gzip" else 15,
                                   cfg.max_body_bytes)
                except BodyTooLarge:
                    shared.inc("rejected_413")
                    return self._reply(413, {"error": "body too large"})
                except ValueError as e:
                    return self._reply(400, {"error": f"invalid {enc} body: {e}"})
            skips: dict[str, int] | None = None
            if is_pb:
                # decode edge-side to a JSON envelope line so the spool
                # stays one format (reference decodes pb at ingest too:
                # otlp_server.cpp:528-557 content-type -> format)
                from duckdb_otlp_spark.sources.otlp_proto import pb_to_json_line
                try:
                    body = pb_to_json_line(body, signal).encode()
                except ValueError as e:
                    return self._reply(400, {"error": f"invalid protobuf body: {e}"})
            elif is_otap:
                # OTAP BatchArrowRecords decode edge-side to the same
                # JSON envelope line; a decode failure rejects just
                # this request (the gRPC contract poisons the stream —
                # HTTP has no stream to poison)
                from duckdb_otlp_spark.sources.otap import (
                    OtapDecodeError,
                    bar_to_envelope,
                )
                try:
                    env = bar_to_envelope(body, signal)
                    body = json.dumps(env, separators=(",", ":")).encode()
                except OtapDecodeError as e:
                    return self._reply(400, {"error": f"OTAP decode error: {e}"})
            if signal == "metrics":
                # metrics bodies are parsed at the edge to report the
                # reference's per-request skip counters; logs/traces
                # take the parse-free fast path (parse lives in the seal)
                try:
                    envs = ([json.loads(ln) for ln in body.splitlines() if ln.strip()]
                            if b"\n" in body.strip() else [json.loads(body)])
                except ValueError as e:
                    return self._reply(400, {"error": f"invalid JSON body: {e}"})
                summary = nan = 0
                for env in envs:
                    s, k = _count_metric_skips(env)
                    summary += s
                    nan += k
                if summary:
                    shared.inc("skipped_summary_points", summary)
                if nan:
                    shared.inc("skipped_nan_points", nan)
                skips = {"skipped_summary_points": summary,
                         "skipped_nan_points": nan}

            try:
                data, batches = _spool_payload(body)
            except ValueError as e:
                return self._reply(400, {"error": f"invalid JSON body: {e}"})
            if not shared.try_reserve(len(data), cfg.max_buffered_bytes, signal):
                shared.inc("rejected_503")
                return self._reply(503, {"error": "buffer full, retry later"})
            writers[signal].append_bytes(data)
            shared.inc("accepted_requests")
            shared.inc("admitted_bytes_total", len(data))
            shared.inc(f"{signal}_requests")
            shared.inc(f"{signal}_admitted_bytes", len(data))
            # 202 = spooled, not yet sealed (reference: serve.md:363)
            out = {"batches": batches}
            if skips is not None:
                out.update(skips)
            return self._reply(202, out)

    return Handler


# OTLP/gRPC unary Export service paths (public opentelemetry-proto
# collector services; reference: serve.md:318)
_GRPC_PATHS = {
    "/opentelemetry.proto.collector.logs.v1.LogsService/Export": "logs",
    "/opentelemetry.proto.collector.trace.v1.TraceService/Export": "traces",
    "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export": "metrics",
}

# OTAP/Arrow bidirectional streaming services (public otel-arrow proto;
# reference: serve.md:319 — stream BatchArrowRecords -> stream BatchStatus)
_OTAP_GRPC_PATHS = {
    "/opentelemetry.proto.experimental.arrow.v1.ArrowLogsService/ArrowLogs": "logs",
    "/opentelemetry.proto.experimental.arrow.v1.ArrowTracesService/ArrowTraces": "traces",
    "/opentelemetry.proto.experimental.arrow.v1.ArrowMetricsService/ArrowMetrics": "metrics",
}

# otel-arrow BatchStatus {batch_id(1), status_code(2), status_message(3)}
_BATCH_STATUS_SPEC = {"batch_id": (1, "iv"), "status_code": (2, "u"),
                      "status_message": (3, "s")}

# ExportMetricsServiceResponse.partial_success (field 1):
# rejected_data_points (1, int64) + error_message (2, string)
_PARTIAL_SUCCESS_SPEC = {"partial_success": (1, ("m", {
    "rejected_data_points": (1, "iv"), "error_message": (2, "s")}))}


def _make_grpc_service(cfg: _WorkerConfig, shared: _Shared,
                       writers: dict[str, _SpoolSegmentWriter]):
    """OTLP/gRPC unary Export with the same edge contracts as the HTTP
    path: constant-time auth -> UNAUTHENTICATED(16), admission cap ->
    RESOURCE_EXHAUSTED(8), malformed body -> INVALID_ARGUMENT(3), and
    metrics skip counts reported via ExportMetricsServiceResponse.
    partial_success (the gRPC analog of the HTTP 202 skip report)."""
    from duckdb_otlp_spark.streaming.h2c import GrpcError, GrpcService

    def check_auth(headers) -> bool:
        if cfg.disable_auth:
            return True
        supplied = ""
        auth = headers.get("authorization", "")
        if auth.startswith("Bearer "):
            supplied = auth[len("Bearer "):]
        elif headers.get("x-api-key"):
            supplied = headers.get("x-api-key")
        return hmac.compare_digest(supplied.encode(), (cfg.auth_token or "").encode())

    class OtlpExportService(GrpcService):
        def on_headers(self, stream) -> None:
            shared.inc("requests_total")
            signal = _GRPC_PATHS[stream.headers[":path"]]
            stream.state["signal"] = signal
            ctype = stream.headers.get("content-type", "")
            if not ctype.startswith("application/grpc"):
                raise GrpcError(3, f"bad content-type {ctype}")
            if not check_auth(stream.headers):
                shared.inc("rejected_auth")
                raise GrpcError(16, "unauthenticated")

        def on_message(self, stream, message: bytes) -> list:
            if "pb" in stream.state:
                raise GrpcError(3, "unary Export expects exactly one message")
            stream.state["pb"] = message
            return []

        def on_end(self, stream):
            signal = stream.state["signal"]
            pb = stream.state.get("pb")
            if pb is None:
                raise GrpcError(3, "missing request message")
            from duckdb_otlp_spark.sources.otlp_proto import pb_to_json_line
            try:
                line = pb_to_json_line(pb, signal)
            except ValueError as e:
                raise GrpcError(3, f"invalid protobuf body: {e}") from e
            response = b""              # empty Export*ServiceResponse
            if signal == "metrics":
                summary, nan = _count_metric_skips(json.loads(line))
                if summary:
                    shared.inc("skipped_summary_points", summary)
                if nan:
                    shared.inc("skipped_nan_points", nan)
                if summary or nan:
                    from duckdb_otlp_spark.sources.otlp_proto_encode import _enc_msg
                    response = _enc_msg(
                        {"partial_success": {
                            "rejected_data_points": summary + nan,
                            "error_message": f"{summary} summary point(s) and "
                                             f"{nan} non-finite point(s) skipped"}},
                        _PARTIAL_SUCCESS_SPEC)
            data = line.encode() + b"\n"
            if not shared.try_reserve(len(data), cfg.max_buffered_bytes, signal):
                shared.inc("rejected_503")
                raise GrpcError(8, "ingest buffer full, retry later")
            writers[signal].append_bytes(data)
            shared.inc("accepted_requests")
            shared.inc("admitted_bytes_total", len(data))
            shared.inc(f"{signal}_requests")
            shared.inc(f"{signal}_admitted_bytes", len(data))
            return [response], [("grpc-status", "0")]

    return OtlpExportService


def _make_otap_grpc_service(cfg: _WorkerConfig, shared: _Shared,
                            writers: dict[str, _SpoolSegmentWriter]):
    """OTAP/Arrow bidirectional streaming (the reference's otap_serve,
    serve.md:319): the client streams ``BatchArrowRecords``; each batch
    is acked with a ``BatchStatus`` on the same stream. Arrow IPC
    schema + dictionary state is kept PER STREAM (OtapStreamDecoder),
    so follow-up messages may carry schema-less continuations with
    dictionary deltas. A decode failure poisons the stream (gRPC
    error), per the otel-arrow contract."""
    from duckdb_otlp_spark.streaming.h2c import GrpcError, GrpcService

    def check_auth(headers) -> bool:
        if cfg.disable_auth:
            return True
        supplied = ""
        auth = headers.get("authorization", "")
        if auth.startswith("Bearer "):
            supplied = auth[len("Bearer "):]
        elif headers.get("x-api-key"):
            supplied = headers.get("x-api-key")
        return hmac.compare_digest(supplied.encode(), (cfg.auth_token or "").encode())

    class OtapArrowService(GrpcService):
        def on_headers(self, stream) -> None:
            from duckdb_otlp_spark.sources.otap import OtapStreamDecoder
            signal = _OTAP_GRPC_PATHS[stream.headers[":path"]]
            if not check_auth(stream.headers):
                shared.inc("rejected_auth")
                raise GrpcError(16, "unauthenticated")
            stream.state["signal"] = signal
            stream.state["decoder"] = OtapStreamDecoder(signal)

        def on_message(self, stream, message: bytes) -> list:
            from duckdb_otlp_spark.sources.otap import OtapDecodeError
            from duckdb_otlp_spark.sources.otlp_proto_encode import _enc_msg
            shared.inc("requests_total")
            signal = stream.state["signal"]
            try:
                batch_id, env = stream.state["decoder"].decode(message)
            except OtapDecodeError as e:
                raise GrpcError(3, str(e)) from e
            data = json.dumps(env, separators=(",", ":")).encode() + b"\n"
            if not shared.try_reserve(len(data), cfg.max_buffered_bytes, signal):
                shared.inc("rejected_503")
                raise GrpcError(8, "ingest buffer full, retry later")
            writers[signal].append_bytes(data)
            shared.inc("accepted_requests")
            shared.inc("admitted_bytes_total", len(data))
            shared.inc(f"{signal}_requests")
            shared.inc(f"{signal}_admitted_bytes", len(data))
            return [_enc_msg({"batch_id": batch_id, "status_code": 0},
                             _BATCH_STATUS_SPEC)]

    return OtapArrowService


def _worker_main(cfg: _WorkerConfig, shared: _Shared, ctl) -> None:
    """Accept-worker entrypoint (spawned process): bind SO_REUSEPORT,
    serve, and answer parent control commands over the pipe."""
    if cfg.pkg_root not in sys.path:
        sys.path.insert(0, cfg.pkg_root)
    writers = {sig: _SpoolSegmentWriter(Path(cfg.spool_dir) / sig)
               for sig in ("logs", "traces", "metrics")}
    try:
        if cfg.transport == "grpc":
            from duckdb_otlp_spark.streaming.h2c import H2cGrpcServer
            if cfg.formats == "otap":
                svc = _make_otap_grpc_service(cfg, shared, writers)
                paths = {p: svc for p in _OTAP_GRPC_PATHS}
            else:
                svc = _make_grpc_service(cfg, shared, writers)
                paths = {p: svc for p in _GRPC_PATHS}
            httpd = H2cGrpcServer(
                cfg.host, cfg.port, paths,
                max_message_bytes=cfg.max_body_bytes)
        else:
            httpd = _ReusePortHTTPServer((cfg.host, cfg.port),
                                         _make_handler(cfg, shared, writers))
    except OSError as e:
        ctl.send(("error", str(e)))
        return
    if cfg.transport == "grpc":
        httpd.start()
        serve = None
    else:
        serve = threading.Thread(target=httpd.serve_forever,
                                 name="otlp-accept", daemon=True)
        serve.start()
    stop_janitor = threading.Event()

    def janitor() -> None:
        # rotate idle segments so spooled rows become sealable within
        # rotate_ms even when traffic pauses mid-segment
        interval = min(w.rotate_ms for w in writers.values()) / 1000
        while not stop_janitor.wait(interval):
            for w in writers.values():
                w.rotate_if_stale()

    jan = threading.Thread(target=janitor, name="otlp-janitor", daemon=True)
    jan.start()
    bound_port = (httpd.port if cfg.transport == "grpc"
                  else httpd.server_address[1])
    ctl.send(("ready", bound_port))
    try:
        while True:
            try:
                cmd = ctl.recv()
            except EOFError:       # parent died — shut down
                break
            if cmd == "rotate":
                for w in writers.values():
                    w.rotate()
                ctl.send("ok")
            elif isinstance(cmd, tuple) and cmd and cmd[0] == "rotate":
                # sequence-tagged rotate: the ack echoes the seq so the
                # parent can tell THIS rotate's completion from a stale
                # ack left in the pipe by an earlier timed-out one
                for w in writers.values():
                    w.rotate()
                ctl.send(("ok", cmd[1]))
            elif cmd == "stop":
                break
            else:
                ctl.send("ok")     # ping/unknown
    finally:
        if cfg.transport == "grpc":
            httpd.stop()
        else:
            httpd.shutdown()
            httpd.server_close()
        stop_janitor.set()
        for w in writers.values():
            w.rotate()             # last partial segment stays sealable
        try:
            ctl.send("stopped")
        except (BrokenPipeError, OSError):
            pass


class OtlpHttpReceiver:
    """Sharded multi-process HTTP listener spooling accepted OTLP bodies."""

    def __init__(self, host: str, port: int, spool_dir: str | Path,
                 auth_token: str | None = None, disable_auth: bool = False,
                 max_body_bytes: int = DEFAULT_MAX_BODY_BYTES,
                 max_buffered_bytes: int = DEFAULT_MAX_BUFFERED_BYTES,
                 formats: str = "otlp",
                 transport: str = "http",
                 accept_workers: int = DEFAULT_ACCEPT_WORKERS,
                 stall_after_ms: int = 15000):
        if formats not in ("otlp", "otap"):
            raise ValueError(f"unknown formats {formats!r}; use 'otlp' or 'otap'")
        if transport not in ("http", "grpc"):
            raise ValueError(f"unknown transport {transport!r}; use 'http' or 'grpc'")
        if not disable_auth:
            if auth_token is None:
                auth_token = secrets.token_hex(16)  # 32 hex chars
            if len(auth_token) < 16:
                # reference: otlp_server.cpp token length rule
                raise ValueError("auth token must be at least 16 characters")
        self.host, self.port = host, port
        self.formats = formats
        self.transport = transport
        self.spool_dir = Path(spool_dir)
        self.auth_token = auth_token
        self.disable_auth = disable_auth
        self.max_body_bytes = max_body_bytes
        self.max_buffered_bytes = max_buffered_bytes
        self.accept_workers = max(1, accept_workers)
        self.stall_after_ms = stall_after_ms
        self.started_unix_ms = int(time.time() * 1000)
        for sig in ("logs", "traces", "metrics"):
            (self.spool_dir / sig).mkdir(parents=True, exist_ok=True)
        self._ctx = mp.get_context("spawn")
        self._shared = _Shared(self._ctx)
        self._procs: list = []
        self._pipes: list = []
        self._rotate_seq = 0        # see rotate_all: tags rotate acks

    # -- admission (reference: otlp_server.cpp:425-453) --
    def try_reserve(self, n: int, signal: str = "logs") -> bool:
        return self._shared.try_reserve(n, self.max_buffered_bytes, signal)

    def release_sealed(self, n: int, signal: str | None = None) -> None:
        self._shared.release(n, signal)

    @property
    def buffered_bytes(self) -> int:
        return self._shared.buffered.value

    def buffered_bytes_by_signal(self) -> dict[str, int]:
        return {s: v.value for s, v in self._shared.buffered_by_signal.items()}

    def publish_seal_state(self, failures_total: int,
                           last_seal_unix_ms: int | None) -> None:
        """Server pushes seal telemetry so workers answer /readyz from
        shared memory (no cross-process callback)."""
        self._shared.seal_failures.value = failures_total
        self._shared.last_seal_unix_ms.value = (
            -1 if last_seal_unix_ms is None else last_seal_unix_ms)

    @property
    def stats(self) -> ReceiverStats:
        c = self._shared
        return ReceiverStats(
            requests_total=c.get("requests_total"),
            accepted_requests=c.get("accepted_requests"),
            admitted_bytes_total=c.get("admitted_bytes_total"),
            rejected_auth=c.get("rejected_auth"),
            rejected_413=c.get("rejected_413"),
            rejected_415=c.get("rejected_415"),
            rejected_503=c.get("rejected_503"),
            skipped_summary_points=c.get("skipped_summary_points"),
            skipped_nan_points=c.get("skipped_nan_points"),
            per_signal_requests={s: c.get(f"{s}_requests")
                                 for s in ("logs", "traces", "metrics")},
            per_signal_admitted_bytes={s: c.get(f"{s}_admitted_bytes")
                                       for s in ("logs", "traces", "metrics")})

    def _spawn(self, port: int):
        cfg = _WorkerConfig(
            host=self.host, port=port, spool_dir=str(self.spool_dir),
            auth_token=self.auth_token, disable_auth=self.disable_auth,
            max_body_bytes=self.max_body_bytes,
            max_buffered_bytes=self.max_buffered_bytes,
            formats=self.formats, transport=self.transport,
            stall_after_ms=self.stall_after_ms,
            pkg_root=str(Path(__file__).resolve().parents[2]))
        parent_conn, child_conn = self._ctx.Pipe()
        proc = self._ctx.Process(target=_worker_main,
                                 args=(cfg, self._shared, child_conn),
                                 name="otlp-accept-worker", daemon=True)
        proc.start()
        child_conn.close()
        if not parent_conn.poll(60):
            proc.terminate()
            raise RuntimeError("accept worker failed to start (timeout)")
        status, detail = parent_conn.recv()
        if status != "ready":
            proc.join(timeout=5)
            raise OSError(f"accept worker bind failed: {detail}")
        self._procs.append(proc)
        self._pipes.append(parent_conn)
        return int(detail)

    def _recover_orphan_segments(self) -> None:
        """Rename leftover dot-prefixed temp segments (from a crashed
        worker of a previous incarnation) visible, so their accepted
        lines re-enter the pipeline instead of rotting on disk.  A torn
        final line (write cut mid-flush) is dropped by the seal's lax
        parse and counted in seal_malformed_lines."""
        for sig in ("logs", "traces", "metrics"):
            for tmp in (self.spool_dir / sig).glob(".seg_*.jsonl.tmp"):
                try:
                    tmp.rename(tmp.parent / tmp.name[1:-len(".tmp")])
                except OSError:
                    pass  # concurrent recovery; the other rename won

    def start(self) -> None:
        self._recover_orphan_segments()
        # worker 0 resolves port 0 to a real port and holds it; the
        # remaining shards then bind the SAME port via SO_REUSEPORT —
        # no discover/close/rebind race
        self.port = self._spawn(self.port)
        for _ in range(self.accept_workers - 1):
            self._spawn(self.port)

    def rotate_all(self) -> None:
        """Flush every worker's open segments to visibility (called
        before a synchronous seal, the otlp_flush path).

        Acks are sequence-tagged: a worker that missed one rotate's
        10 s ack window leaves a stale ack in its pipe, and an untagged
        protocol would let the NEXT rotate consume it and seal before
        the new rotate actually ran — the flush-visibility lag the
        bench's reflush retry used to paper over.  Here each wait
        discards acks until it sees this call's own seq, so when
        rotate_all returns every responsive worker has completed THIS
        rotation."""
        seq = self._rotate_seq = getattr(self, "_rotate_seq", 0) + 1
        for conn in self._pipes:
            try:
                conn.send(("rotate", seq))
            except (BrokenPipeError, OSError):
                continue
        for conn in self._pipes:
            deadline = time.monotonic() + 10
            try:
                # recv() only after poll() confirms data: a wedged (or
                # killed) worker must time out here, not hang the flush
                while True:
                    remaining = deadline - time.monotonic()
                    if remaining <= 0 or not conn.poll(remaining):
                        break
                    if conn.recv() == ("ok", seq):
                        break
                    # stale ack from an earlier timed-out rotate: drop
            except (EOFError, OSError):
                continue

    def stop(self) -> None:
        for conn in self._pipes:
            try:
                conn.send("stop")
            except (BrokenPipeError, OSError):
                continue
        for proc, conn in zip(self._procs, self._pipes):
            proc.join(timeout=10)
            if proc.is_alive():
                proc.terminate()
                proc.join(timeout=5)
            conn.close()
        self._procs.clear()
        self._pipes.clear()
