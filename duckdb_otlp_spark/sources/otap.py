"""OTAP (OpenTelemetry Arrow Protocol) file readers.

Equivalent of the reference's ``read_otap_*`` table functions
(reference: src/function/read_otlp.cpp:190-223, 316-344; semantics
site/src/content/docs/reference/api.md:50-67): decode a self-contained
``BatchArrowRecords`` message — the protobuf envelope carrying one Arrow
IPC stream per payload type, per the public otel-arrow protocol — into
the SAME flattened schemas as the ``read_otlp_*`` readers.

Strategy: executor-side (``binaryFile`` + ``mapInArrow``, one file per
task = the reference's parallelism unit) the payload tables are decoded
with pyarrow, re-assembled into proto3-JSON envelope dicts, and
flattened to the final rows by the same per-file decode the protobuf
readers use (``flat_decode.read_flat``): the same file rules, the same
flatteners, so OTAP↔OTLP row parity holds by construction, which is the
reference's own differential oracle (reference:
test/sql/read_otap.test:44-79).

otel-arrow encodings handled (public spec, github.com/open-telemetry/otel-arrow):
- ``delta`` ids: cumulative sum over non-null stored values;
- ``quasidelta`` attribute parent ids: a row's stored parent id is a
  delta from the previous row iff key AND value equal the previous
  row's, else absolute;
- exemplar/event/link parent ids: delta within runs of equal grouping
  value (value / name / trace_id respectively), else absolute;
- composite attribute values (map/slice) are CBOR-serialized (RFC 8949);
- Arrow IPC body compression (zstd/lz4) is decoded by pyarrow natively.

Error contract (reference: read_otap.test:129-162): a non-canonical
envelope, a dictionary-reuse message (schema-less IPC continuation), or
a wrong-signal file all raise "OTAP decode error".
"""

from __future__ import annotations

import base64
import struct
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from duckdb_otlp_spark.sources.flat_decode import read_flat
from duckdb_otlp_spark.sources.otlp_proto import _fields

# public otel-arrow ArrowPayloadType values
RESOURCE_ATTRS = 1
SCOPE_ATTRS = 2
UNIVARIATE_METRICS = 10
NUMBER_DP = 11
SUMMARY_DP = 12
HISTOGRAM_DP = 13
EXP_HISTOGRAM_DP = 14
NUMBER_DP_ATTRS = 15
SUMMARY_DP_ATTRS = 16
HISTOGRAM_DP_ATTRS = 17
EXP_HISTOGRAM_DP_ATTRS = 18
NUMBER_DP_EXEMPLARS = 19
HISTOGRAM_DP_EXEMPLARS = 20
EXP_HISTOGRAM_DP_EXEMPLARS = 21
NUMBER_DP_EXEMPLAR_ATTRS = 22
HISTOGRAM_DP_EXEMPLAR_ATTRS = 23
EXP_HISTOGRAM_DP_EXEMPLAR_ATTRS = 24
METRIC_ATTRS = 26
LOGS = 30
LOG_ATTRS = 31
SPANS = 40
SPAN_ATTRS = 41
SPAN_EVENTS = 42
SPAN_LINKS = 43
SPAN_EVENT_ATTRS = 44
SPAN_LINK_ATTRS = 45

_METRIC_TYPES = {1: "gauge", 2: "sum", 3: "histogram",
                 4: "exponentialHistogram", 5: "summary"}


class OtapDecodeError(ValueError):
    pass


def _err(msg: str) -> OtapDecodeError:
    return OtapDecodeError(f"OTAP decode error: {msg}")


# ---------------------------------------------------------------------------
# CBOR (RFC 8949) — minimal decoder for otel-arrow's composite values
# ---------------------------------------------------------------------------

def _cbor_decode(buf: bytes, pos: int = 0):
    def head(p):
        if p >= len(buf):
            raise _err("truncated CBOR value")
        ib = buf[p]
        mt, ai = ib >> 5, ib & 0x1F
        p += 1
        if ai < 24:
            return mt, ai, ai, p
        if ai == 24:
            return mt, ai, buf[p], p + 1
        if ai == 25:
            return mt, ai, int.from_bytes(buf[p:p + 2], "big"), p + 2
        if ai == 26:
            return mt, ai, int.from_bytes(buf[p:p + 4], "big"), p + 4
        if ai == 27:
            return mt, ai, int.from_bytes(buf[p:p + 8], "big"), p + 8
        if ai == 31:
            return mt, ai, None, p  # indefinite length / break
        raise _err(f"bad CBOR additional info {ai}")

    mt, ai, n, pos = head(pos)
    if mt == 0:
        return n, pos
    if mt == 1:
        return -1 - n, pos
    if mt == 2 or mt == 3:
        if n is None:  # indefinite: chunks until break
            parts = []
            while buf[pos] != 0xFF:
                chunk, pos = _cbor_decode(buf, pos)
                parts.append(chunk if mt == 2 else chunk.encode())
            joined = b"".join(parts)
            return (joined if mt == 2 else joined.decode("utf-8", "replace")), pos + 1
        raw = buf[pos:pos + n]
        pos += n
        return (raw if mt == 2 else raw.decode("utf-8", "replace")), pos
    if mt == 4:
        items = []
        if n is None:
            while buf[pos] != 0xFF:
                v, pos = _cbor_decode(buf, pos)
                items.append(v)
            return items, pos + 1
        for _ in range(n):
            v, pos = _cbor_decode(buf, pos)
            items.append(v)
        return items, pos
    if mt == 5:
        out = {}
        if n is None:
            while buf[pos] != 0xFF:
                k, pos = _cbor_decode(buf, pos)
                v, pos = _cbor_decode(buf, pos)
                out[k] = v
            return out, pos + 1
        for _ in range(n):
            k, pos = _cbor_decode(buf, pos)
            v, pos = _cbor_decode(buf, pos)
            out[k] = v
        return out, pos
    if mt == 6:  # tag: decode and return the tagged value
        return _cbor_decode(buf, pos)
    if mt == 7:
        if ai == 25:
            return struct.unpack(">e", n.to_bytes(2, "big"))[0], pos
        if ai == 26:
            return struct.unpack(">f", n.to_bytes(4, "big"))[0], pos
        if ai == 27:
            return struct.unpack(">d", n.to_bytes(8, "big"))[0], pos
        if n == 20:
            return False, pos
        if n == 21:
            return True, pos
        if n in (22, 23):
            return None, pos
        return n, pos
    raise _err(f"bad CBOR major type {mt}")


def _py_to_any_value(v) -> dict[str, Any]:
    """Decoded CBOR python value -> proto3-JSON AnyValue."""
    if v is None:
        return {}
    if isinstance(v, bool):
        return {"boolValue": v}
    if isinstance(v, int):
        return {"intValue": str(v)}
    if isinstance(v, float):
        return {"doubleValue": v}
    if isinstance(v, str):
        return {"stringValue": v}
    if isinstance(v, bytes):
        return {"bytesValue": base64.b64encode(v).decode()}
    if isinstance(v, list):
        return {"arrayValue": {"values": [_py_to_any_value(x) for x in v]}}
    if isinstance(v, dict):
        return {"kvlistValue": {"values": [
            {"key": k, "value": _py_to_any_value(x)} for k, x in v.items()]}}
    raise _err(f"unmappable CBOR value {type(v)}")


# ---------------------------------------------------------------------------
# BatchArrowRecords envelope + encoding decode
# ---------------------------------------------------------------------------

def _decode_bar(data: bytes) -> dict[int, Any]:
    """.bar bytes -> {payload_type: pyarrow.Table}."""
    import pyarrow.ipc as ipc
    tables: dict[int, Any] = {}
    try:
        payloads = [(f, v) for f, _, v in _fields(data) if f == 2]
    except ValueError as e:
        raise _err(f"not a BatchArrowRecords message ({e})") from e
    for _, payload in payloads:
        ptype, record = None, None
        try:
            for f2, _, v2 in _fields(payload):
                if f2 == 2:
                    ptype = v2
                elif f2 == 3:
                    record = v2
        except ValueError as e:
            raise _err(f"bad ArrowPayload ({e})") from e
        if ptype is None or not isinstance(record, bytes):
            raise _err("ArrowPayload missing type or record")
        try:
            tables[ptype] = ipc.open_stream(record).read_all()
        except Exception as e:
            raise _err(f"Arrow IPC decode failed for payload type {ptype}: "
                       f"{e}") from e
    if not tables:
        raise _err("no Arrow payloads (not a canonical BatchArrowRecords file)")
    return tables


def _delta_ids(col) -> list[int | None]:
    """encoding='delta': cumulative sum over non-null stored values."""
    out, acc, first = [], 0, True
    for v in col:
        if v is None:
            out.append(None)
            continue
        acc = v if first else acc + v
        first = False
        out.append(acc)
    return out


class _NoneCol:
    """All-null column stand-in: ``_NONE_COL[i]`` is None for any i.

    The envelope builders index optional columns per record; the old
    form ``cols.get(name, [None] * t.num_rows)[i]`` evaluated the
    default EVERY call (dict.get is eager), allocating an O(n) list per
    record — an accidental O(n²) that took the logs flatten to
    ~200 µs/record at the 600k-record probe tier (PROBE_OTAP_SLICE).
    ``_col`` returns the real column or this shared singleton."""
    __slots__ = ()

    def __getitem__(self, i):
        return None


_NONE_COL = _NoneCol()


def _col(cols: dict, name: str):
    got = cols.get(name)
    return _NONE_COL if got is None else got


def _plain_or_delta_ids(table, name: str) -> list[int | None]:
    col = table.column(name).to_pylist() if name in table.schema.names else []
    fld = table.schema.field(name) if name in table.schema.names else None
    enc = (fld.metadata or {}).get(b"encoding") if fld is not None else None
    if enc == b"delta":
        return _delta_ids(col)
    return col


_ATTR_VALUE_COLS = ("str", "int", "double", "bool", "bytes", "ser")


def _attr_rows(table) -> list[tuple[int, str, dict[str, Any]]]:
    """Attr table -> [(parent_id, key, AnyValue)] with quasidelta decode."""
    if table is None:
        return []
    cols = {n: table.column(n).to_pylist() for n in table.schema.names}
    n = table.num_rows
    fld = table.schema.field("parent_id")
    quasi = (fld.metadata or {}).get(b"encoding") == b"quasidelta"
    out = []
    prev_key = prev_val = None
    prev_parent = 0
    for i in range(n):
        key = cols["key"][i]
        vtype = cols["type"][i]
        raw = tuple(_col(cols, c)[i] for c in _ATTR_VALUE_COLS)
        stored = cols["parent_id"][i]
        if quasi and i > 0 and key == prev_key and raw == prev_val:
            parent = prev_parent + stored
        else:
            parent = stored
        prev_key, prev_val, prev_parent = key, raw, parent
        s, iv, d, b, by, ser = raw
        if vtype == 1:
            av: dict[str, Any] = {"stringValue": s or ""}
        elif vtype == 2:
            av = {"intValue": str(iv or 0)}
        elif vtype == 3:
            av = {"doubleValue": d or 0.0}
        elif vtype == 4:
            av = {"boolValue": bool(b)}
        elif vtype == 7:
            av = {"bytesValue": base64.b64encode(by or b"").decode()}
        elif vtype in (5, 6):
            decoded, _ = _cbor_decode(ser or b"\xf6")
            av = _py_to_any_value(decoded)
            if vtype == 5 and "kvlistValue" not in av:
                raise _err(f"map attribute '{key}' did not decode to a CBOR map")
            if vtype == 6 and "arrayValue" not in av:
                raise _err(f"slice attribute '{key}' did not decode to a CBOR array")
        else:
            raise _err(f"unknown attribute value type {vtype}")
        out.append((parent, key, av))
    return out


def _attrs_by_parent(table) -> dict[int, list[dict[str, Any]]]:
    by: dict[int, list[dict[str, Any]]] = {}
    for parent, key, av in _attr_rows(table):
        by.setdefault(parent, []).append({"key": key, "value": av})
    return by


def _grouped_parents(table, group_col: str) -> list[int]:
    """Non-attr child tables (exemplars/events/links): parent_id is delta
    within runs of equal ``group_col`` value, else absolute."""
    if table is None:
        return []
    parents = table.column("parent_id").to_pylist()
    fld = table.schema.field("parent_id")
    if (fld.metadata or {}).get(b"encoding") != b"quasidelta":
        return parents
    groups = (table.column(group_col).to_pylist()
              if group_col in table.schema.names else [None] * len(parents))
    out: list[int] = []
    for i, stored in enumerate(parents):
        if i > 0 and groups[i] == groups[i - 1]:
            out.append(out[-1] + stored)
        else:
            out.append(stored)
    return out


def _ns_cols(table, *names):
    """Columns cast to int64 ns (timestamps/durations) as python lists."""
    import pyarrow as pa
    out = []
    for name in names:
        if name in table.schema.names:
            col = table.column(name)
            out.append(col.cast(pa.int64()).to_pylist())
        else:
            out.append([None] * table.num_rows)
    return out


def _hexcol(table, name: str) -> list[str | None]:
    if name not in table.schema.names:
        return [None] * table.num_rows
    return [v.hex() if isinstance(v, bytes) else None
            for v in table.column(name).to_pylist()]


def _group_envelope(rows: list[tuple[dict, dict, Any]], record_key: str,
                    scope_list_key: str, resource_list_key: str) -> dict:
    """Group (resource_struct, scope_struct, record) rows into the nested
    resource -> scope -> records envelope, preserving first appearance."""
    renv: dict[int, dict] = {}
    order: list[int] = []
    for res, scope, record in rows:
        rid = (res or {}).get("id") or 0
        sid = (scope or {}).get("id") or 0
        if rid not in renv:
            renv[rid] = {"_res": res or {}, "_scopes": {}, "_sorder": []}
            order.append(rid)
        bucket = renv[rid]
        if sid not in bucket["_scopes"]:
            bucket["_scopes"][sid] = {"_scope": scope or {}, "_records": []}
            bucket["_sorder"].append(sid)
        bucket["_scopes"][sid]["_records"].append(record)
    return {"_order": order, "_groups": renv,
            "_record_key": record_key, "_scope_list_key": scope_list_key,
            "_resource_list_key": resource_list_key}


def _render_envelope(g, res_attrs, scope_attrs) -> dict:
    out = []
    for rid in g["_order"]:
        bucket = g["_groups"][rid]
        res_struct = bucket["_res"]
        resource: dict[str, Any] = {}
        attrs = res_attrs.get(rid)
        if attrs:
            resource["attributes"] = attrs
        if res_struct.get("dropped_attributes_count"):
            resource["droppedAttributesCount"] = \
                str(res_struct["dropped_attributes_count"])
        scopes = []
        for sid in bucket["_sorder"]:
            sb = bucket["_scopes"][sid]
            sc_struct = sb["_scope"]
            scope: dict[str, Any] = {}
            if sc_struct.get("name") is not None:
                scope["name"] = sc_struct["name"]
            if sc_struct.get("version") is not None:
                scope["version"] = sc_struct["version"]
            sattrs = scope_attrs.get(sid)
            if sattrs:
                scope["attributes"] = sattrs
            if sc_struct.get("dropped_attributes_count"):
                scope["droppedAttributesCount"] = \
                    str(sc_struct["dropped_attributes_count"])
            scopes.append({"scope": scope, g["_record_key"]: sb["_records"]})
        entry: dict[str, Any] = {g["_scope_list_key"]: scopes}
        if resource:
            entry["resource"] = resource
        out.append(entry)
    return {g["_resource_list_key"]: out}


# ---------------------------------------------------------------------------
# Per-signal envelope reconstruction
# ---------------------------------------------------------------------------

def envelope_from_tables(tables: dict[int, Any], signal: str) -> dict:
    """{payload_type: pyarrow.Table} -> proto3-JSON envelope for ``signal``."""
    res_attrs = _attrs_by_parent(tables.get(RESOURCE_ATTRS))
    scope_attrs = _attrs_by_parent(tables.get(SCOPE_ATTRS))
    if signal == "logs":
        if LOGS not in tables:
            raise _err("file carries no Logs payload (wrong signal?)")
        return _logs_envelope(tables, res_attrs, scope_attrs)
    if signal == "traces":
        if SPANS not in tables:
            raise _err("file carries no Spans payload (wrong signal?)")
        return _traces_envelope(tables, res_attrs, scope_attrs)
    if signal == "metrics":
        if UNIVARIATE_METRICS not in tables:
            raise _err("file carries no Metrics payload (wrong signal?)")
        return _metrics_envelope(tables, res_attrs, scope_attrs)
    raise _err(f"unknown signal {signal}")


def bar_to_envelope(data: bytes, signal: str) -> dict:
    """One self-contained .bar message -> proto3-JSON envelope dict."""
    return envelope_from_tables(_decode_bar(data), signal)


class OtapStreamDecoder:
    """Per-stream OTAP decode state — the dictionary-reuse half of the
    reference's otap_serve gRPC contract (reference:
    src/otlp_server_grpc.cpp:95-133): successive ``BatchArrowRecords``
    on ONE ``ArrowStream`` share Arrow IPC schema and dictionary state
    per (payload_type, schema_id), so a follow-up message may carry
    only record batches and dictionary DELTAS with no schema message.

    Mechanism: the raw IPC bytes of every payload are accumulated per
    (payload_type, schema_id) and re-read as one growing IPC stream —
    pyarrow replays the schema + cumulative dictionary deltas — and the
    message's OWN rows are the slice beyond the previous row count.
    Delta-encoded ids restart per message (each record batch is
    logically self-contained, verified against the reference's
    initial/reuse fixture pair), so the slice is decoded as a fresh
    table by the shared envelope builders.

    Memory note: state grows with the stream; otel-arrow producers
    recycle streams periodically (the protocol's own
    schema-reset/stream-lifetime mechanism), which naturally bounds it.
    A decode failure poisons the stream, per the gRPC contract — the
    caller should terminate the RPC.
    """

    def __init__(self, signal: str):
        self.signal = signal
        self._state: dict[tuple[int, bytes], dict[str, Any]] = {}

    def decode(self, data: bytes) -> tuple[int, dict]:
        """One BatchArrowRecords message -> (batch_id, envelope of the
        rows THIS message adds)."""
        import pyarrow.ipc as ipc
        batch_id = 0
        payloads = []
        try:
            for f, _, v in _fields(data):
                if f == 1:
                    batch_id = v
                elif f == 2:
                    payloads.append(v)
        except ValueError as e:
            raise _err(f"not a BatchArrowRecords message ({e})") from e
        tables: dict[int, Any] = {}
        for payload in payloads:
            ptype, schema_id, record = None, b"", None
            try:
                for f2, _, v2 in _fields(payload):
                    if f2 == 1:
                        schema_id = v2 if isinstance(v2, bytes) else b""
                    elif f2 == 2:
                        ptype = v2
                    elif f2 == 3:
                        record = v2
            except ValueError as e:
                raise _err(f"bad ArrowPayload ({e})") from e
            if ptype is None or not isinstance(record, bytes):
                raise _err("ArrowPayload missing type or record")
            st = self._state.setdefault((ptype, schema_id),
                                        {"buf": bytearray(), "rows": 0})
            st["buf"] += record
            try:
                combined = ipc.open_stream(bytes(st["buf"])).read_all()
            except Exception as e:
                raise _err(f"Arrow IPC decode failed for payload type "
                           f"{ptype}: {e}") from e
            new = combined.slice(st["rows"])
            st["rows"] = combined.num_rows
            # combine_chunks: the slice must behave as a standalone
            # table for the per-message delta-id decode
            tables[ptype] = new.combine_chunks()
        if not tables:
            raise _err("no Arrow payloads in BatchArrowRecords message")
        return batch_id, envelope_from_tables(tables, self.signal)


# Envelope leaves whose signal-schema type is STRING even though the
# wire carries an integer (proto3-JSON renders int64/enums as strings;
# from_json coerced the rest) — stringified at render so the envelope
# dicts are schema-exact, byte-identical with the otlp_proto decoders'
# output (pinned by test_envelope_reconstruction_driverside).
_STRINGLY_KEYS = frozenset({
    "severityNumber", "flags", "kind", "aggregationTemporality", "scale",
    "droppedAttributesCount", "droppedEventsCount", "droppedLinksCount",
    "offset", "code", "count"})


def _maybe(d: dict, key: str, val) -> None:
    if val is not None:
        if key in _STRINGLY_KEYS and type(val) is int:
            val = str(val)
        d[key] = val


def _logs_envelope(tables, res_attrs, scope_attrs) -> dict:
    t = tables[LOGS]
    ids = _plain_or_delta_ids(t, "id")
    attrs = _attrs_by_parent(tables.get(LOG_ATTRS))
    times, obs = _ns_cols(t, "time_unix_nano", "observed_time_unix_nano")
    cols = {n: t.column(n).to_pylist() for n in t.schema.names}
    trace_ids, span_ids = _hexcol(t, "trace_id"), _hexcol(t, "span_id")
    rows = []
    for i in range(t.num_rows):
        rec: dict[str, Any] = {"timeUnixNano": str(times[i] or 0)}
        if obs[i]:
            rec["observedTimeUnixNano"] = str(obs[i])
        _maybe(rec, "severityNumber", _col(cols, "severity_number")[i])
        _maybe(rec, "severityText", _col(cols, "severity_text")[i])
        body = _col(cols, "body")[i]
        if body is not None:
            btype = body.get("type")
            if body.get("ser") is not None:
                decoded, _ = _cbor_decode(body["ser"])
                rec["body"] = _py_to_any_value(decoded)
            elif btype is not None:
                for col_name in ("str", "int", "double", "bool", "bytes"):
                    if body.get(col_name) is not None:
                        rec["body"] = _py_to_any_value(body[col_name])
                        break
        if ids[i] is not None and attrs.get(ids[i]):
            rec["attributes"] = attrs[ids[i]]
        dac = _col(cols, "dropped_attributes_count")[i]
        if dac:
            rec["droppedAttributesCount"] = str(dac)
        _maybe(rec, "flags", _col(cols, "flags")[i])
        if trace_ids[i]:
            rec["traceId"] = trace_ids[i]
        if span_ids[i]:
            rec["spanId"] = span_ids[i]
        _maybe(rec, "eventName", _col(cols, "event_name")[i])
        rows.append((_col(cols, "resource")[i], _col(cols, "scope")[i], rec))
    g = _group_envelope(rows, "logRecords", "scopeLogs", "resourceLogs")
    return _render_envelope(g, res_attrs, scope_attrs)


def _traces_envelope(tables, res_attrs, scope_attrs) -> dict:
    t = tables[SPANS]
    ids = _plain_or_delta_ids(t, "id")
    attrs = _attrs_by_parent(tables.get(SPAN_ATTRS))
    starts, durs = _ns_cols(t, "start_time_unix_nano", "duration_time_unix_nano")
    cols = {n: t.column(n).to_pylist() for n in t.schema.names}
    trace_ids, span_ids = _hexcol(t, "trace_id"), _hexcol(t, "span_id")
    parent_ids = _hexcol(t, "parent_span_id")

    # events/links: child tables with their own delta ids + grouped parents
    events_by_span: dict[int, list[dict]] = {}
    ev = tables.get(SPAN_EVENTS)
    if ev is not None:
        ev_ids = _plain_or_delta_ids(ev, "id")
        ev_parents = _grouped_parents(ev, "name")
        ev_attrs = _attrs_by_parent(tables.get(SPAN_EVENT_ATTRS))
        (ev_times,) = _ns_cols(ev, "time_unix_nano")
        ev_cols = {n: ev.column(n).to_pylist() for n in ev.schema.names}
        for i in range(ev.num_rows):
            e: dict[str, Any] = {"timeUnixNano": str(ev_times[i] or 0)}
            _maybe(e, "name", _col(ev_cols, "name")[i])
            if ev_ids[i] is not None and ev_attrs.get(ev_ids[i]):
                e["attributes"] = ev_attrs[ev_ids[i]]
            if _col(ev_cols, "dropped_attributes_count")[i]:
                e["droppedAttributesCount"] = \
                    str(ev_cols["dropped_attributes_count"][i])
            events_by_span.setdefault(ev_parents[i], []).append(e)
    links_by_span: dict[int, list[dict]] = {}
    lk = tables.get(SPAN_LINKS)
    if lk is not None:
        lk_ids = _plain_or_delta_ids(lk, "id")
        lk_parents = _grouped_parents(lk, "trace_id")
        lk_attrs = _attrs_by_parent(tables.get(SPAN_LINK_ATTRS))
        lk_cols = {n: lk.column(n).to_pylist() for n in lk.schema.names}
        lk_tids, lk_sids = _hexcol(lk, "trace_id"), _hexcol(lk, "span_id")
        for i in range(lk.num_rows):
            ln: dict[str, Any] = {}
            if lk_tids[i]:
                ln["traceId"] = lk_tids[i]
            if lk_sids[i]:
                ln["spanId"] = lk_sids[i]
            _maybe(ln, "traceState", _col(lk_cols, "trace_state")[i])
            if lk_ids[i] is not None and lk_attrs.get(lk_ids[i]):
                ln["attributes"] = lk_attrs[lk_ids[i]]
            if _col(lk_cols, "dropped_attributes_count")[i]:
                ln["droppedAttributesCount"] = \
                    str(lk_cols["dropped_attributes_count"][i])
            _maybe(ln, "flags", _col(lk_cols, "flags")[i])
            links_by_span.setdefault(lk_parents[i], []).append(ln)

    rows = []
    for i in range(t.num_rows):
        start = starts[i] or 0
        span: dict[str, Any] = {
            "startTimeUnixNano": str(start),
            "endTimeUnixNano": str(start + (durs[i] or 0)),
        }
        if trace_ids[i]:
            span["traceId"] = trace_ids[i]
        if span_ids[i]:
            span["spanId"] = span_ids[i]
        _maybe(span, "traceState", _col(cols, "trace_state")[i])
        if parent_ids[i]:
            span["parentSpanId"] = parent_ids[i]
        _maybe(span, "flags", _col(cols, "flags")[i])
        _maybe(span, "name", _col(cols, "name")[i])
        _maybe(span, "kind", _col(cols, "kind")[i])
        if ids[i] is not None and attrs.get(ids[i]):
            span["attributes"] = attrs[ids[i]]
        for c, k in (("dropped_attributes_count", "droppedAttributesCount"),
                     ("dropped_events_count", "droppedEventsCount"),
                     ("dropped_links_count", "droppedLinksCount")):
            if _col(cols, c)[i]:
                span[k] = str(cols[c][i])
        if ids[i] is not None and events_by_span.get(ids[i]):
            span["events"] = events_by_span[ids[i]]
        if ids[i] is not None and links_by_span.get(ids[i]):
            span["links"] = links_by_span[ids[i]]
        status = _col(cols, "status")[i]
        if status is not None:
            st: dict[str, Any] = {}
            if status.get("status_message") is not None:
                st["message"] = status["status_message"]
            if status.get("code") is not None:
                st["code"] = str(status["code"])
            span["status"] = st
        rows.append((_col(cols, "resource")[i], _col(cols, "scope")[i], span))
    g = _group_envelope(rows, "spans", "scopeSpans", "resourceSpans")
    return _render_envelope(g, res_attrs, scope_attrs)


def _exemplars_by_dp(tables, exemplar_type, attr_type) -> dict[int, list[dict]]:
    ex = tables.get(exemplar_type)
    if ex is None:
        return {}
    ex_ids = _plain_or_delta_ids(ex, "id")
    # exemplar parent ids group by the value column per the otel-arrow spec
    group_col = "int_value" if "int_value" in ex.schema.names else "double_value"
    parents = _grouped_parents(ex, group_col)
    ex_attrs = _attrs_by_parent(tables.get(attr_type))
    (times,) = _ns_cols(ex, "time_unix_nano")
    cols = {n: ex.column(n).to_pylist() for n in ex.schema.names}
    tids, sids = _hexcol(ex, "trace_id"), _hexcol(ex, "span_id")
    out: dict[int, list[dict]] = {}
    for i in range(ex.num_rows):
        e: dict[str, Any] = {"timeUnixNano": str(times[i] or 0)}
        if _col(cols, "int_value")[i] is not None:
            e["asInt"] = str(cols["int_value"][i])
        elif _col(cols, "double_value")[i] is not None:
            e["asDouble"] = cols["double_value"][i]
        if sids[i]:
            e["spanId"] = sids[i]
        if tids[i]:
            e["traceId"] = tids[i]
        if ex_ids[i] is not None and ex_attrs.get(ex_ids[i]):
            e["filteredAttributes"] = ex_attrs[ex_ids[i]]
        out.setdefault(parents[i], []).append(e)
    return out


def _dp_common(start, time) -> dict[str, Any]:
    d: dict[str, Any] = {}
    if start:
        d["startTimeUnixNano"] = str(start)
    d["timeUnixNano"] = str(time or 0)
    return d


def _metrics_envelope(tables, res_attrs, scope_attrs) -> dict:
    t = tables[UNIVARIATE_METRICS]
    metric_ids = _plain_or_delta_ids(t, "id")
    cols = {n: t.column(n).to_pylist() for n in t.schema.names}

    # data point tables keyed by parent metric id
    def dp_table(ptype, attr_ptype, exemplar=None, exemplar_attrs=None):
        dp = tables.get(ptype)
        if dp is None:
            return {}
        dp_ids = _plain_or_delta_ids(dp, "id")
        parents = _plain_or_delta_ids(dp, "parent_id")
        attrs = _attrs_by_parent(tables.get(attr_ptype))
        exs = (_exemplars_by_dp(tables, exemplar, exemplar_attrs)
               if exemplar is not None else {})
        starts, times = _ns_cols(dp, "start_time_unix_nano", "time_unix_nano")
        c = {n: dp.column(n).to_pylist() for n in dp.schema.names}
        by_metric: dict[int, list[dict]] = {}
        for i in range(dp.num_rows):
            d = _dp_common(starts[i], times[i])
            if ptype == NUMBER_DP:
                if _col(c, "int_value")[i] is not None:
                    d["asInt"] = str(c["int_value"][i])
                elif _col(c, "double_value")[i] is not None:
                    d["asDouble"] = c["double_value"][i]
            elif ptype == HISTOGRAM_DP:
                _maybe(d, "count", _col(c, "count")[i])
                _maybe(d, "sum", _col(c, "sum")[i])
                bc = _col(c, "bucket_counts")[i]
                if bc is not None:
                    d["bucketCounts"] = [str(x) for x in bc]
                _maybe(d, "explicitBounds", _col(c, "explicit_bounds")[i])
                _maybe(d, "min", _col(c, "min")[i])
                _maybe(d, "max", _col(c, "max")[i])
            elif ptype == EXP_HISTOGRAM_DP:
                _maybe(d, "count", _col(c, "count")[i])
                _maybe(d, "sum", _col(c, "sum")[i])
                _maybe(d, "scale", _col(c, "scale")[i])
                zc = _col(c, "zero_count")[i]
                if zc is not None:
                    d["zeroCount"] = str(zc)
                for side in ("positive", "negative"):
                    sv = _col(c, side)[i]
                    if sv is not None:
                        d[side] = {"bucketCounts": [str(x) for x in
                                                    (sv.get("bucket_counts") or [])]}
                        _maybe(d[side], "offset", sv.get("offset"))
                _maybe(d, "min", _col(c, "min")[i])
                _maybe(d, "max", _col(c, "max")[i])
                _maybe(d, "zeroThreshold", _col(c, "zero_threshold")[i])
            elif ptype == SUMMARY_DP:
                _maybe(d, "count", _col(c, "count")[i])
                _maybe(d, "sum", _col(c, "sum")[i])
            _maybe(d, "flags", _col(c, "flags")[i])
            if dp_ids[i] is not None and attrs.get(dp_ids[i]):
                d["attributes"] = attrs[dp_ids[i]]
            if dp_ids[i] is not None and exs.get(dp_ids[i]):
                d["exemplars"] = exs[dp_ids[i]]
            by_metric.setdefault(parents[i], []).append(d)
        return by_metric

    number_dps = dp_table(NUMBER_DP, NUMBER_DP_ATTRS,
                          NUMBER_DP_EXEMPLARS, NUMBER_DP_EXEMPLAR_ATTRS)
    hist_dps = dp_table(HISTOGRAM_DP, HISTOGRAM_DP_ATTRS,
                        HISTOGRAM_DP_EXEMPLARS, HISTOGRAM_DP_EXEMPLAR_ATTRS)
    exp_dps = dp_table(EXP_HISTOGRAM_DP, EXP_HISTOGRAM_DP_ATTRS,
                       EXP_HISTOGRAM_DP_EXEMPLARS, EXP_HISTOGRAM_DP_EXEMPLAR_ATTRS)
    summary_dps = dp_table(SUMMARY_DP, SUMMARY_DP_ATTRS)

    rows = []
    for i in range(t.num_rows):
        mid = metric_ids[i]
        mtype = _METRIC_TYPES.get(cols["metric_type"][i])
        if mtype is None:
            raise _err(f"unknown metric type {cols['metric_type'][i]}")
        m: dict[str, Any] = {}
        _maybe(m, "name", _col(cols, "name")[i])
        _maybe(m, "description", _col(cols, "description")[i])
        _maybe(m, "unit", _col(cols, "unit")[i])
        if mtype == "gauge":
            m["gauge"] = {"dataPoints": number_dps.get(mid, [])}
        elif mtype == "sum":
            body: dict[str, Any] = {"dataPoints": number_dps.get(mid, [])}
            _maybe(body, "aggregationTemporality",
                   _col(cols, "aggregation_temporality")[i])
            _maybe(body, "isMonotonic", _col(cols, "is_monotonic")[i])
            m["sum"] = body
        elif mtype == "histogram":
            body = {"dataPoints": hist_dps.get(mid, [])}
            _maybe(body, "aggregationTemporality",
                   _col(cols, "aggregation_temporality")[i])
            m["histogram"] = body
        elif mtype == "exponentialHistogram":
            body = {"dataPoints": exp_dps.get(mid, [])}
            _maybe(body, "aggregationTemporality",
                   _col(cols, "aggregation_temporality")[i])
            m["exponentialHistogram"] = body
        elif mtype == "summary":
            m["summary"] = {"dataPoints": summary_dps.get(mid, [])}
        rows.append((_col(cols, "resource")[i], _col(cols, "scope")[i], m))
    g = _group_envelope(rows, "metrics", "scopeMetrics", "resourceMetrics")
    return _render_envelope(g, res_attrs, scope_attrs)


# ---------------------------------------------------------------------------
# Spark readers
# ---------------------------------------------------------------------------

def read_otap_logs(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Equivalent of ``read_otap_logs`` (reference: read_otlp.cpp:190-223)."""
    return read_flat(spark, path, "logs", "otap")


def read_otap_traces(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_flat(spark, path, "traces", "otap")


def read_otap_metrics_gauge(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_flat(spark, path, "metrics_gauge", "otap")


def read_otap_metrics_sum(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_flat(spark, path, "metrics_sum", "otap")


def read_otap_metrics_histogram(spark: SparkSession, path: str | list[str]) -> DataFrame:
    return read_flat(spark, path, "metrics_histogram", "otap")


def read_otap_metrics_exp_histogram(spark: SparkSession,
                                    path: str | list[str]) -> DataFrame:
    return read_flat(spark, path, "metrics_exp_histogram", "otap")


OTAP_READERS = {
    "logs": read_otap_logs,
    "traces": read_otap_traces,
    "metrics_gauge": read_otap_metrics_gauge,
    "metrics_sum": read_otap_metrics_sum,
    "metrics_histogram": read_otap_metrics_histogram,
    "metrics_exp_histogram": read_otap_metrics_exp_histogram,
}
