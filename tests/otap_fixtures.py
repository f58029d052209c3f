"""Committed OTAP fixture set: a test-side encoder for ``tests/data/otap/``.

Writes one self-contained ``BatchArrowRecords`` message per signal
(``logs-initial.bar``, ``traces-initial.bar``, ``metrics-initial.bar``),
each with its OTLP protobuf twin (``*.otlp``), plus ``logs-zstd.bar`` and
``logs-lz4.bar``: the logs message with zstd- and lz4-compressed Arrow
IPC bodies. The reader gate
(``duckdb_otlp_spark/reader_gate.py``) reads the ``.bar`` files through
``read_otap_*`` and checks them against rows flattened from the ``.otlp``
twins; ``tests/test_read_otap.py`` checks both readers against each other.

The ``.bar`` encoder is built from the protobuf wire format and pyarrow
directly and shares no code with ``sources/otap.py``. It writes the
otel-arrow encodings that module decodes:

- ``id`` columns (records, events, links, metrics, data points,
  exemplars) are ``delta`` encoded, null where a row has no children;
  data-point ``parent_id`` columns are ``delta`` encoded too;
- attribute ``parent_id`` columns are ``quasidelta`` encoded: the rows
  are sorted by (key, value, parent) and a row whose key and value equal
  the previous row's stores the difference of the parents;
- event, link and exemplar ``parent_id`` columns (marked ``quasidelta``)
  store a delta within runs of equal name, trace id or value, else the
  absolute parent;
- map and slice attribute values and log bodies are CBOR (RFC 8949);
  scalar bodies use the body struct's typed columns, bytes included.

The values are chosen so that each encoding matters: reading the columns
of any one of them as plain ids changes the decoded rows of at least one
table (pinned by ``test_committed_fixtures_need_every_encoding``). The
``.otlp`` twins come from ``sources/otlp_proto_encode.encode_envelope_pb``.

Regenerate (the committed bytes are what this module writes)::

    python -m tests.otap_fixtures [OUT_DIR]    # default: tests/data/otap
"""

from __future__ import annotations

import base64
import io
import struct
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.ipc as ipc

from duckdb_otlp_spark.sources.otlp_proto_encode import encode_envelope_pb

OTAP_FIXTURE_DIR = Path(__file__).resolve().parent / "data" / "otap"

# ---------------------------------------------------------------------------
# Envelopes (proto3-JSON shape). Ids are never empty strings and every
# resource has attributes: the OTLP decoder keeps an empty id or an empty
# attribute list that the OTAP decoder has no column for.
# ---------------------------------------------------------------------------

_T = 1712000000000000000  # 2024-04-01T19:33:20Z
_S = 1_000_000_000


def _str(s):
    return {"stringValue": s}


def _int(n):
    return {"intValue": str(n)}


def _kv(key, value):
    return {"key": key, "value": value}


_LABELS = {"kvlistValue": {"values": [_kv("team", _str("core")),
                                      _kv("tier", _int(1))]}}
_CODES = {"arrayValue": {"values": [_int(7), _str("x"),
                                    {"doubleValue": 1.5}]}}
_TRACE_A = "5b8efff798038103d269b633813fc60c"
_TRACE_B = "0af7651916cd43dd8448eb211c80319c"
_TRACE_C = "4bf92f3577b34da6a3ce929d0e0e4736"

LOGS_ENVELOPE = {"resourceLogs": [
    {"resource": {"attributes": [_kv("service.name", _str("fixture-service")),
                                 _kv("host.name", _str("otap-host-1")),
                                 _kv("deploy.env", _str("prod")),
                                 _kv("host.cores", _int(8))],
                  "droppedAttributesCount": 1},
     "scopeLogs": [
         {"scope": {"name": "otap-logger", "version": "2.0.1",
                    "attributes": [_kv("lib", _str("otel-arrow"))]},
          "logRecords": [
              {"timeUnixNano": str(_T), "observedTimeUnixNano": str(_T + 1000),
               "severityNumber": 9, "severityText": "INFO",
               "body": _str("service started"),
               "attributes": [_kv("http.method", _str("GET")),
                              _kv("retries", _int(2)),
                              _kv("ratio", {"doubleValue": 0.5}),
                              _kv("cached", {"boolValue": True}),
                              _kv("payload", {"bytesValue": "AQID"}),
                              _kv("labels", _LABELS),
                              _kv("codes", _CODES)],
               "traceId": _TRACE_A, "spanId": "eee19b7ec3c1b174",
               "flags": 1, "eventName": "startup"},
              {"timeUnixNano": str(_T + _S), "severityNumber": 9,
               "severityText": "INFO", "body": _int(503),
               "attributes": [_kv("http.method", _str("GET")),
                              _kv("retries", _int(2))]},
              {"timeUnixNano": str(_T + 2 * _S), "severityNumber": 13,
               "severityText": "WARN", "body": {"doubleValue": 0.75},
               "droppedAttributesCount": 2},
          ]},
         {"scope": {"name": "audit"},
          "logRecords": [
              {"timeUnixNano": str(_T + 3 * _S), "severityNumber": 17,
               "severityText": "ERROR",
               "body": {"kvlistValue": {"values": [
                   _kv("user", _str("u-1")), _kv("ok", {"boolValue": False}),
                   _kv("n", _int(3))]}},
               "attributes": [_kv("http.method", _str("POST")),
                              _kv("labels", _LABELS)],
               "traceId": _TRACE_B, "spanId": "00f067aa0ba902b7"},
              {"timeUnixNano": str(_T + 4 * _S),
               "body": {"arrayValue": {"values": [
                   _str("a"), _int(2), {"boolValue": True}]}},
               "attributes": [_kv("retries", _int(2))]},
              {"timeUnixNano": str(_T + 6 * _S), "severityNumber": 1,
               "severityText": "TRACE", "body": {"bytesValue": "3q2+7w=="}},
          ]},
     ]},
    {"resource": {"attributes": [_kv("service.name", _str("billing")),
                                 _kv("deploy.env", _str("prod"))]},
     "scopeLogs": [
         {"scope": {"name": "billing-logger", "version": "0.1"},
          "logRecords": [
              {"timeUnixNano": str(_T + 5 * _S),
               "observedTimeUnixNano": str(_T + 5 * _S + 7),
               "severityNumber": 21, "severityText": "FATAL",
               "body": {"boolValue": True},
               "attributes": [_kv("codes", _CODES), _kv("retries", _int(2))],
               "traceId": _TRACE_C, "spanId": "b7ad6b7169203331"},
          ]},
     ]},
]}

TRACES_ENVELOPE = {"resourceSpans": [
    {"resource": {"attributes": [_kv("service.name", _str("checkout")),
                                 _kv("service.namespace", _str("shop")),
                                 _kv("service.instance.id", _str("i-1"))]},
     "scopeSpans": [
         {"scope": {"name": "otap-tracer", "version": "1.4.0"},
          "spans": [
              {"traceId": _TRACE_A, "spanId": "eee19b7ec3c1b174",
               "traceState": "k=v", "flags": 1, "name": "GET /cart",
               "kind": 2,
               "startTimeUnixNano": str(_T),
               "endTimeUnixNano": str(_T + 120_000_000),
               "attributes": [_kv("http.method", _str("GET")),
                              _kv("http.status_code", _int(200))],
               "events": [
                   {"timeUnixNano": str(_T + 1_000_000), "name": "cache.miss",
                    "attributes": [_kv("key.size", _int(3))]},
                   {"timeUnixNano": str(_T + 2_000_000), "name": "cache.miss"},
               ],
               "links": [{"traceId": _TRACE_B, "spanId": "00f067aa0ba902b7",
                          "traceState": "l=1",
                          "attributes": [_kv("link.kind", _str("follows"))]}],
               "droppedEventsCount": 1,
               "status": {"code": 1}},
              {"traceId": _TRACE_A, "spanId": "eee19b7ec3c1b175",
               "parentSpanId": "eee19b7ec3c1b174", "name": "SELECT cart",
               "kind": 3,
               "startTimeUnixNano": str(_T + 5_000_000),
               "endTimeUnixNano": str(_T + 50_000_000),
               "attributes": [_kv("db.system", _str("postgres")),
                              _kv("http.method", _str("GET"))],
               "droppedAttributesCount": 1,
               "events": [{"timeUnixNano": str(_T + 6_000_000),
                           "name": "cache.miss",
                           "attributes": [_kv("key.size", _int(3))]}],
               "links": [{"traceId": _TRACE_B, "spanId": "00f067aa0ba902b8",
                          "flags": 1}],
               "status": {"message": "timeout", "code": 2}},
              {"traceId": _TRACE_A, "spanId": "eee19b7ec3c1b176",
               "parentSpanId": "eee19b7ec3c1b174", "name": "render",
               "kind": 1,
               "startTimeUnixNano": str(_T + 60_000_000),
               "endTimeUnixNano": str(_T + 90_000_000)},
          ]},
     ]},
    {"resource": {"attributes": [_kv("service.name", _str("payments"))]},
     "scopeSpans": [
         {"scope": {"name": "pay-tracer"},
          "spans": [
              {"traceId": _TRACE_C, "spanId": "b7ad6b7169203331",
               "name": "charge", "kind": 3,
               "startTimeUnixNano": str(_T + _S),
               "endTimeUnixNano": str(_T + _S + 250_000_000),
               "attributes": [_kv("amount", {"doubleValue": 12.5}),
                              _kv("card", _LABELS),
                              _kv("http.method", _str("GET"))],
               "events": [
                   {"timeUnixNano": str(_T + _S + 1000), "name": "cache.miss"},
                   {"timeUnixNano": str(_T + _S + 2000), "name": "retry",
                    "attributes": [_kv("attempt", _int(1))],
                    "droppedAttributesCount": 1},
               ],
               "links": [{"traceId": _TRACE_B, "spanId": "00f067aa0ba902b9"}],
               "status": {"message": "ok"}},
          ]},
     ]},
]}

METRICS_ENVELOPE = {"resourceMetrics": [
    {"resource": {"attributes": [_kv("service.name", _str("meter-svc")),
                                 _kv("host.name", _str("m-1"))]},
     "scopeMetrics": [
         {"scope": {"name": "otap-meter", "version": "3.1",
                    "attributes": [_kv("lib", _str("otel-arrow"))]},
          "metrics": [
              {"name": "cpu.utilization", "description": "CPU", "unit": "1",
               "gauge": {"dataPoints": [
                   {"timeUnixNano": str(_T), "asDouble": 0.75, "flags": 1,
                    "attributes": [_kv("cpu", _int(0)),
                                   _kv("state", _str("user"))]},
                   {"startTimeUnixNano": str(_T), "timeUnixNano": str(_T + 60 * _S),
                    "asInt": "42",
                    "attributes": [_kv("cpu", _int(1)),
                                   _kv("state", _str("user"))],
                    "exemplars": [
                        {"timeUnixNano": str(_T + _S), "asInt": "7",
                         "spanId": "eee19b7ec3c1b174", "traceId": _TRACE_A},
                        {"timeUnixNano": str(_T + 2 * _S), "asInt": "7"},
                    ]},
               ]}},
              {"name": "requests", "description": "Requests", "unit": "{req}",
               "sum": {"dataPoints": [
                   {"startTimeUnixNano": str(_T - 60 * _S),
                    "timeUnixNano": str(_T), "asInt": "100",
                    "attributes": [_kv("method", _str("GET"))],
                    "exemplars": [{"timeUnixNano": str(_T - _S), "asInt": "7",
                                   "filteredAttributes": [
                                       _kv("client", _str("web"))]}]},
                   {"startTimeUnixNano": str(_T),
                    "timeUnixNano": str(_T + 60 * _S), "asInt": "250",
                    "attributes": [_kv("method", _str("POST"))]},
               ], "aggregationTemporality": 1, "isMonotonic": True}},
              {"name": "queue.depth", "unit": "jobs",
               "sum": {"dataPoints": [
                   {"timeUnixNano": str(_T + 30 * _S), "asDouble": 5.5}],
                   "aggregationTemporality": 2, "isMonotonic": False}},
              {"name": "latency", "description": "Latency", "unit": "ms",
               "histogram": {"dataPoints": [
                   {"startTimeUnixNano": str(_T - 60 * _S),
                    "timeUnixNano": str(_T), "count": "10", "sum": 55.5,
                    "bucketCounts": ["1", "2", "3", "4"],
                    "explicitBounds": [1.0, 5.0, 10.0],
                    "attributes": [_kv("route", _str("/"))],
                    "exemplars": [{"timeUnixNano": str(_T - _S), "asDouble": 4.5,
                                   "traceId": _TRACE_B,
                                   "spanId": "00f067aa0ba902b7"}],
                    "min": 1.0, "max": 20.0},
                   {"timeUnixNano": str(_T + 60 * _S), "count": "3", "sum": 4.5,
                    "bucketCounts": ["3", "0", "0", "0"],
                    "explicitBounds": [1.0, 5.0, 10.0],
                    "attributes": [_kv("route", _str("/"))],
                    "exemplars": [
                        {"timeUnixNano": str(_T + 58 * _S), "asDouble": 4.5},
                        {"timeUnixNano": str(_T + 59 * _S), "asDouble": 4.5},
                    ]},
                   {"timeUnixNano": str(_T + 120 * _S)},
               ], "aggregationTemporality": 2}},
              {"name": "resp.size", "description": "Response sizes",
               "unit": "By",
               "exponentialHistogram": {"dataPoints": [
                   {"startTimeUnixNano": str(_T - 60 * _S),
                    "timeUnixNano": str(_T), "count": "12", "sum": 45.5,
                    "scale": "3", "zeroCount": "1",
                    "positive": {"offset": "2", "bucketCounts": ["3", "4", "2"]},
                    "negative": {"offset": "-1", "bucketCounts": ["1", "1"]},
                    "attributes": [_kv("route", _str("/"))],
                    "exemplars": [{"timeUnixNano": str(_T - _S),
                                   "asDouble": 2.25}],
                    "min": 1.0, "max": 9.5, "zeroThreshold": 0.25},
                   {"timeUnixNano": str(_T + 60 * _S), "count": "2", "sum": 3.0,
                    "scale": "-2", "zeroCount": "0",
                    "positive": {"bucketCounts": ["2"]}},
               ], "aggregationTemporality": 2}},
              {"name": "gc.pause", "unit": "ms",
               "summary": {"dataPoints": [
                   {"timeUnixNano": str(_T), "count": "4", "sum": 12.0}]}},
          ]},
     ]},
    {"resource": {"attributes": [_kv("service.name", _str("worker")),
                                 _kv("host.name", _str("m-1"))]},
     "scopeMetrics": [
         {"scope": {"name": "worker-meter"},
          "metrics": [
              {"name": "mem.used", "unit": "By",
               "gauge": {"dataPoints": [
                   {"timeUnixNano": str(_T + 10 * _S), "asInt": "1024",
                    "attributes": [_kv("state", _str("user"))]}]}},
          ]},
     ]},
]}

# ---------------------------------------------------------------------------
# Wire helpers: protobuf, CBOR, Arrow IPC
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def _vi(field: int, value: int) -> bytes:
    return _varint(field << 3) + _varint(value)


def _cbor_head(major: int, n: int) -> bytes:
    if n < 24:
        return bytes([(major << 5) | n])
    for ai, size in ((24, 1), (25, 2), (26, 4), (27, 8)):
        if n < 1 << (8 * size):
            return bytes([(major << 5) | ai]) + n.to_bytes(size, "big")
    raise ValueError(n)


def _cbor(v: dict) -> bytes:
    """proto3-JSON AnyValue -> CBOR (RFC 8949)."""
    (kind, x), = v.items()
    if kind == "stringValue":
        raw = x.encode()
        return _cbor_head(3, len(raw)) + raw
    if kind == "intValue":
        n = int(x)
        return _cbor_head(0, n) if n >= 0 else _cbor_head(1, -1 - n)
    if kind == "doubleValue":
        return b"\xfb" + struct.pack(">d", x)
    if kind == "boolValue":
        return b"\xf5" if x else b"\xf4"
    if kind == "bytesValue":
        raw = base64.b64decode(x)
        return _cbor_head(2, len(raw)) + raw
    if kind == "arrayValue":
        return _cbor_head(4, len(x["values"])) + b"".join(
            _cbor(e) for e in x["values"])
    if kind == "kvlistValue":
        return _cbor_head(5, len(x["values"])) + b"".join(
            _cbor(_str(e["key"])) + _cbor(e["value"]) for e in x["values"])
    raise ValueError(kind)


def _ipc(table: pa.Table, compression: str | None) -> bytes:
    sink = io.BytesIO()
    opts = ipc.IpcWriteOptions(compression=compression)
    with ipc.new_stream(sink, table.schema, options=opts) as w:
        w.write_table(table)
    return sink.getvalue()


def encode_bar(payloads: list[tuple[int, pa.Table]],
               compression: str | None = None) -> bytes:
    """BatchArrowRecords{batch_id=1, arrow_payloads=[ArrowPayload{
    schema_id, type, record}]}; payloads without rows are left out."""
    return _vi(1, 1) + b"".join(
        _ld(2, _ld(1, str(ptype).encode()) + _vi(2, ptype)
            + _ld(3, _ipc(t, compression)))
        for ptype, t in payloads if t.num_rows)


# ---------------------------------------------------------------------------
# Column encodings
# ---------------------------------------------------------------------------

_DELTA = {"encoding": "delta"}
_QUASIDELTA = {"encoding": "quasidelta"}


def _delta(ids: list[int | None]) -> list[int | None]:
    """Absolute ascending ids -> delta: the first non-null is stored as
    is, every later non-null as the difference to the previous one."""
    out, prev = [], None
    for i in ids:
        out.append(None if i is None else i if prev is None else i - prev)
        prev = prev if i is None else i
    return out


def _grouped_delta(parents: list[int], groups: list) -> list[int]:
    """Delta from the previous row's parent within a run of equal group
    value, else the absolute parent."""
    return [p - parents[i - 1] if i and groups[i] == groups[i - 1] else p
            for i, p in enumerate(parents)]


def _id_col(ids: list[int | None], typ=pa.uint32()):
    return pa.field("id", typ, metadata=_DELTA), _delta(ids)


_ATTR_TYPES = {"stringValue": 1, "intValue": 2, "doubleValue": 3,
               "boolValue": 4, "kvlistValue": 5, "arrayValue": 6,
               "bytesValue": 7}


def _attr_table(rows: list[tuple[int, dict]], parent_type: pa.DataType):
    """[(parent id, KeyValue)] -> attribute table with quasidelta parents."""
    cells = []
    for parent, kv in rows:
        (kind, x), = kv["value"].items()
        value = (x if kind in ("stringValue", "doubleValue", "boolValue")
                 else int(x) if kind == "intValue"
                 else base64.b64decode(x) if kind == "bytesValue"
                 else _cbor(kv["value"]))
        cells.append((kv["key"], _ATTR_TYPES[kind], value, parent))
    cells.sort(key=lambda c: (c[0], c[1], repr(c[2]), c[3]))
    stored = _grouped_delta([c[3] for c in cells], [c[:3] for c in cells])

    def value_col(type_ids):
        return [c[2] if c[1] in type_ids else None for c in cells]

    schema = pa.schema([
        pa.field("parent_id", parent_type, metadata=_QUASIDELTA),
        pa.field("key", pa.string()), pa.field("type", pa.uint8()),
        pa.field("str", pa.string()), pa.field("int", pa.int64()),
        pa.field("double", pa.float64()), pa.field("bool", pa.bool_()),
        pa.field("bytes", pa.binary()), pa.field("ser", pa.binary())])
    return pa.Table.from_arrays(
        [pa.array(v, f.type) for f, v in zip(schema, [
            stored, [c[0] for c in cells], [c[1] for c in cells],
            value_col({1}), value_col({2}), value_col({3}), value_col({4}),
            value_col({7}), value_col({5, 6})])], schema=schema)


def _table(cols: list[tuple[pa.Field, list]]) -> pa.Table:
    return pa.Table.from_arrays([pa.array(v, f.type) for f, v in cols],
                                schema=pa.schema([f for f, _ in cols]))


def _ids_for(items: list, has_children) -> list[int | None]:
    """Sequential ids for the items that have children, None for the rest."""
    out, n = [], 0
    for it in items:
        if has_children(it):
            out.append(n)
            n += 1
        else:
            out.append(None)
    return out


def _bin(hex_id: str | None) -> bytes | None:
    return None if hex_id is None else bytes.fromhex(hex_id)


def _u(v) -> int | None:
    return None if v is None else int(v)


_RESOURCE_T = pa.struct([("id", pa.uint16()),
                         ("dropped_attributes_count", pa.uint32())])
_SCOPE_T = pa.struct([("id", pa.uint16()), ("name", pa.string()),
                      ("version", pa.string()),
                      ("dropped_attributes_count", pa.uint32())])


def _walk(env: dict):
    """Envelope -> (resource attr rows, scope attr rows,
    [(resource struct, scope struct, record)])."""
    (res_key, resources), = env.items()
    scope_key, rec_key = {"resourceLogs": ("scopeLogs", "logRecords"),
                          "resourceSpans": ("scopeSpans", "spans"),
                          "resourceMetrics": ("scopeMetrics", "metrics")}[res_key]
    res_attrs, scope_attrs, rows = [], [], []
    sid = 0
    for rid, r in enumerate(resources):
        res = r["resource"]
        res_attrs += [(rid, kv) for kv in res.get("attributes", [])]
        rs = {"id": rid,
              "dropped_attributes_count": _u(res.get("droppedAttributesCount"))}
        for s in r[scope_key]:
            sc = s["scope"]
            scope_attrs += [(sid, kv) for kv in sc.get("attributes", [])]
            ss = {"id": sid, "name": sc.get("name"), "version": sc.get("version"),
                  "dropped_attributes_count": _u(sc.get("droppedAttributesCount"))}
            rows += [(rs, ss, rec) for rec in s[rec_key]]
            sid += 1
    return res_attrs, scope_attrs, rows


def _common(rows, ids):
    return [_id_col(ids, pa.uint16()),
            (pa.field("resource", _RESOURCE_T), [r for r, _, _ in rows]),
            (pa.field("scope", _SCOPE_T), [s for _, s, _ in rows])]


def _child_attrs(items, ids, key):
    return [(i, kv) for it, i in zip(items, ids) for kv in it.get(key, [])]


# ---------------------------------------------------------------------------
# Per-signal payloads (public otel-arrow ArrowPayloadType numbers)
# ---------------------------------------------------------------------------

_BODY_T = pa.struct([("type", pa.uint8()), ("str", pa.string()),
                     ("int", pa.int64()), ("double", pa.float64()),
                     ("bool", pa.bool_()), ("bytes", pa.binary()),
                     ("ser", pa.binary())])


def _body(v: dict | None) -> dict | None:
    if v is None:
        return None
    (kind, x), = v.items()
    out = {"type": _ATTR_TYPES[kind]}
    if kind in ("kvlistValue", "arrayValue"):
        out["ser"] = _cbor(v)
    elif kind == "bytesValue":
        out["bytes"] = base64.b64decode(x)
    else:
        col = {"stringValue": "str", "intValue": "int",
               "doubleValue": "double", "boolValue": "bool"}[kind]
        out[col] = int(x) if kind == "intValue" else x
    return out


def _ns(col: str, items: list) -> tuple[pa.Field, list]:
    """A u64-nanosecond timestamp column from the camel-case field."""
    return pa.field(col, pa.timestamp("ns")), [_u(r.get(_camel(col))) for r in items]


def _camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(w.title() for w in rest)


def logs_payloads(env: dict) -> list[tuple[int, pa.Table]]:
    res_attrs, scope_attrs, rows = _walk(env)
    recs = [rec for _, _, rec in rows]
    ids = _ids_for(recs, lambda r: r.get("attributes"))
    main = _table(_common(rows, ids) + [
        _ns("time_unix_nano", recs),
        _ns("observed_time_unix_nano", recs),
        (pa.field("trace_id", pa.binary(16)), [_bin(r.get("traceId")) for r in recs]),
        (pa.field("span_id", pa.binary(8)), [_bin(r.get("spanId")) for r in recs]),
        (pa.field("severity_number", pa.int32()),
         [_u(r.get("severityNumber")) for r in recs]),
        (pa.field("severity_text", pa.string()), [r.get("severityText") for r in recs]),
        (pa.field("body", _BODY_T), [_body(r.get("body")) for r in recs]),
        (pa.field("dropped_attributes_count", pa.uint32()),
         [_u(r.get("droppedAttributesCount")) for r in recs]),
        (pa.field("flags", pa.uint32()), [_u(r.get("flags")) for r in recs]),
        (pa.field("event_name", pa.string()), [r.get("eventName") for r in recs]),
    ])
    return [(30, main),
            (31, _attr_table(_child_attrs(recs, ids, "attributes"), pa.uint16())),
            (1, _attr_table(res_attrs, pa.uint16())),
            (2, _attr_table(scope_attrs, pa.uint16()))]


_STATUS_T = pa.struct([("code", pa.int32()), ("status_message", pa.string())])


def traces_payloads(env: dict) -> list[tuple[int, pa.Table]]:
    res_attrs, scope_attrs, rows = _walk(env)
    spans = [rec for _, _, rec in rows]
    ids = _ids_for(spans, lambda s: s.get("attributes") or s.get("events")
                   or s.get("links"))
    starts = [int(s["startTimeUnixNano"]) for s in spans]
    main = _table(_common(rows, ids) + [
        (pa.field("start_time_unix_nano", pa.timestamp("ns")), starts),
        (pa.field("duration_time_unix_nano", pa.duration("ns")),
         [int(s["endTimeUnixNano"]) - t for s, t in zip(spans, starts)]),
        (pa.field("trace_id", pa.binary(16)), [_bin(s.get("traceId")) for s in spans]),
        (pa.field("span_id", pa.binary(8)), [_bin(s.get("spanId")) for s in spans]),
        (pa.field("trace_state", pa.string()), [s.get("traceState") for s in spans]),
        (pa.field("parent_span_id", pa.binary(8)),
         [_bin(s.get("parentSpanId")) for s in spans]),
        (pa.field("flags", pa.uint32()), [_u(s.get("flags")) for s in spans]),
        (pa.field("name", pa.string()), [s.get("name") for s in spans]),
        (pa.field("kind", pa.int32()), [_u(s.get("kind")) for s in spans]),
        *[(pa.field(c, pa.uint32()), [_u(s.get(_camel(c))) for s in spans])
          for c in ("dropped_attributes_count", "dropped_events_count",
                    "dropped_links_count")],
        (pa.field("status", _STATUS_T),
         [None if "status" not in s else
          {"code": _u(s["status"].get("code")),
           "status_message": s["status"].get("message")} for s in spans]),
    ])

    def children(key):
        return [(i, c) for s, i in zip(spans, ids) for c in s.get(key, [])]

    events = children("events")
    ev = [e for _, e in events]
    ev_ids = _ids_for(ev, lambda e: e.get("attributes"))
    ev_table = _table([
        _id_col(ev_ids),
        (pa.field("parent_id", pa.uint16(), metadata=_QUASIDELTA),
         _grouped_delta([p for p, _ in events], [e["name"] for e in ev])),
        _ns("time_unix_nano", ev),
        (pa.field("name", pa.string()), [e["name"] for e in ev]),
        (pa.field("dropped_attributes_count", pa.uint32()),
         [_u(e.get("droppedAttributesCount")) for e in ev]),
    ])
    links = children("links")
    lk = [li for _, li in links]
    lk_ids = _ids_for(lk, lambda li: li.get("attributes"))
    lk_table = _table([
        _id_col(lk_ids),
        (pa.field("parent_id", pa.uint16(), metadata=_QUASIDELTA),
         _grouped_delta([p for p, _ in links], [li["traceId"] for li in lk])),
        (pa.field("trace_id", pa.binary(16)), [_bin(li["traceId"]) for li in lk]),
        (pa.field("span_id", pa.binary(8)), [_bin(li.get("spanId")) for li in lk]),
        (pa.field("trace_state", pa.string()), [li.get("traceState") for li in lk]),
        (pa.field("flags", pa.uint32()), [_u(li.get("flags")) for li in lk]),
        (pa.field("dropped_attributes_count", pa.uint32()),
         [_u(li.get("droppedAttributesCount")) for li in lk]),
    ])
    return [(40, main),
            (41, _attr_table(_child_attrs(spans, ids, "attributes"), pa.uint16())),
            (42, ev_table),
            (44, _attr_table(_child_attrs(ev, ev_ids, "attributes"), pa.uint32())),
            (43, lk_table),
            (45, _attr_table(_child_attrs(lk, lk_ids, "attributes"), pa.uint32())),
            (1, _attr_table(res_attrs, pa.uint16())),
            (2, _attr_table(scope_attrs, pa.uint16()))]


_METRIC_TYPES = {"gauge": 1, "sum": 2, "histogram": 3,
                 "exponentialHistogram": 4, "summary": 5}
_BUCKETS_T = pa.struct([("offset", pa.int32()),
                        ("bucket_counts", pa.list_(pa.uint64()))])


def _buckets(b: dict | None) -> dict | None:
    return None if b is None else {
        "offset": _u(b.get("offset")),
        "bucket_counts": [int(x) for x in b["bucketCounts"]]}


def _opt(col: str, typ, key: str | None = None, conv=None):
    """Column builder for an optional data-point field (``key`` defaults
    to the camel-case of ``col``), converted by ``conv`` when present."""
    key = key or _camel(col)

    def build(dps):
        vals = [dp.get(key) for dp in dps]
        if conv is not None:
            vals = [None if v is None else conv(v) for v in vals]
        return pa.field(col, typ), vals
    return build


# point type -> (dp payload, dp attrs, exemplars, exemplar attrs, exemplar
# value column, extra dp columns)
_POINTS = {
    "number": (11, 15, 19, 22, "int_value", [
        _opt("int_value", pa.int64(), "asInt", int),
        _opt("double_value", pa.float64(), "asDouble")]),
    "histogram": (13, 17, 20, 23, "double_value", [
        _opt("count", pa.uint64(), conv=int),
        _opt("sum", pa.float64()),
        _opt("bucket_counts", pa.list_(pa.uint64()), "bucketCounts",
             lambda v: [int(x) for x in v]),
        _opt("explicit_bounds", pa.list_(pa.float64()), "explicitBounds"),
        _opt("min", pa.float64()), _opt("max", pa.float64())]),
    "exp": (14, 18, 21, 24, "double_value", [
        _opt("count", pa.uint64(), conv=int),
        _opt("sum", pa.float64()),
        _opt("scale", pa.int32(), conv=int),
        _opt("zero_count", pa.uint64(), conv=int),
        _opt("positive", _BUCKETS_T, conv=_buckets),
        _opt("negative", _BUCKETS_T, conv=_buckets),
        _opt("min", pa.float64()), _opt("max", pa.float64()),
        _opt("zero_threshold", pa.float64())]),
    "summary": (12, 16, None, None, None, [
        _opt("count", pa.uint64(), conv=int), _opt("sum", pa.float64())]),
}
_POINT_OF = {"gauge": "number", "sum": "number", "histogram": "histogram",
             "exponentialHistogram": "exp", "summary": "summary"}


def metrics_payloads(env: dict) -> list[tuple[int, pa.Table]]:
    res_attrs, scope_attrs, rows = _walk(env)
    metrics = [m for _, _, m in rows]
    mids = list(range(len(metrics)))
    kinds = [next(k for k in _METRIC_TYPES if k in m) for m in metrics]
    main = _table(_common(rows, mids) + [
        (pa.field("metric_type", pa.uint8()), [_METRIC_TYPES[k] for k in kinds]),
        (pa.field("name", pa.string()), [m.get("name") for m in metrics]),
        (pa.field("description", pa.string()), [m.get("description") for m in metrics]),
        (pa.field("unit", pa.string()), [m.get("unit") for m in metrics]),
        (pa.field("aggregation_temporality", pa.int32()),
         [_u(m[k].get("aggregationTemporality")) for m, k in zip(metrics, kinds)]),
        (pa.field("is_monotonic", pa.bool_()),
         [m[k].get("isMonotonic") for m, k in zip(metrics, kinds)]),
    ])
    payloads = [(10, main)]
    for point, (dp_type, attr_type, ex_type, ex_attr_type, ex_col,
                extra) in _POINTS.items():
        pairs = [(mid, dp) for mid, m, k in zip(mids, metrics, kinds)
                 if _POINT_OF[k] == point for dp in m[k]["dataPoints"]]
        if not pairs:
            continue
        dps = [dp for _, dp in pairs]
        ids = _ids_for(dps, lambda d: d.get("attributes") or d.get("exemplars"))
        payloads += [
            (dp_type, _table([
                _id_col(ids),
                (pa.field("parent_id", pa.uint16(), metadata=_DELTA),
                 _delta([mid for mid, _ in pairs])),
                _ns("start_time_unix_nano", dps), _ns("time_unix_nano", dps),
                *[col(dps) for col in extra],
                (pa.field("flags", pa.uint32()), [_u(d.get("flags")) for d in dps]),
            ])),
            (attr_type, _attr_table(_child_attrs(dps, ids, "attributes"),
                                    pa.uint32()))]
        if ex_type is None:
            continue
        exs = [(i, e) for d, i in zip(dps, ids) for e in d.get("exemplars", [])]
        ex = [e for _, e in exs]
        ex_ids = _ids_for(ex, lambda e: e.get("filteredAttributes"))
        value = ([_u(e.get("asInt")) for e in ex] if ex_col == "int_value"
                 else [e.get("asDouble") for e in ex])
        payloads += [
            (ex_type, _table([
                _id_col(ex_ids),
                (pa.field("parent_id", pa.uint32(), metadata=_QUASIDELTA),
                 _grouped_delta([p for p, _ in exs], value)),
                _ns("time_unix_nano", ex),
                (pa.field(ex_col, pa.int64() if ex_col == "int_value"
                        else pa.float64()), value),
                (pa.field("span_id", pa.binary(8)), [_bin(e.get("spanId")) for e in ex]),
                (pa.field("trace_id", pa.binary(16)),
                 [_bin(e.get("traceId")) for e in ex]),
            ])),
            (ex_attr_type, _attr_table(
                _child_attrs(ex, ex_ids, "filteredAttributes"), pa.uint32()))]
    return payloads + [(1, _attr_table(res_attrs, pa.uint16())),
                       (2, _attr_table(scope_attrs, pa.uint16()))]


# ---------------------------------------------------------------------------
# The fixture set
# ---------------------------------------------------------------------------

SIGNALS = {"logs": (LOGS_ENVELOPE, logs_payloads),
           "traces": (TRACES_ENVELOPE, traces_payloads),
           "metrics": (METRICS_ENVELOPE, metrics_payloads)}


def fixture_files() -> dict[str, bytes]:
    """File name -> bytes for the whole committed set."""
    out = {}
    for signal, (env, payloads) in SIGNALS.items():
        out[f"{signal}-initial.bar"] = encode_bar(payloads(env))
        out[f"{signal}-initial.otlp"] = encode_envelope_pb(env)
    for codec in ("zstd", "lz4"):
        out[f"logs-{codec}.bar"] = encode_bar(logs_payloads(LOGS_ENVELOPE),
                                              codec)
    return out


def write_otap_fixtures(out_dir: Path = OTAP_FIXTURE_DIR) -> list[Path]:
    out_dir.mkdir(parents=True, exist_ok=True)
    written = []
    for name, data in fixture_files().items():
        (out_dir / name).write_bytes(data)
        written.append(out_dir / name)
    return written


if __name__ == "__main__":
    for p in write_otap_fixtures(Path(sys.argv[1]) if len(sys.argv) > 1
                                 else OTAP_FIXTURE_DIR):
        print(p)
