"""Reader-layer differential gate: puts ``read_otlp_*`` under the
driver's DuckDB-oracle hard check.

The relational oracle queries all run over shared parquet, so the OTLP
file readers (the §2A surface) were only covered by pytest goldens.
This module closes that gap with the reference's own differential
trick (reference: test/sql/read_otap.test:44-79): a deterministic OTLP
fixture set is generated at query time, flattened through the REAL
reader pipeline (``read_otlp_logs`` … ``read_otlp_metrics_*``, auto
mode — the binaryFile + mapInPandas decode path), and compared against
EXPECTED rows produced by an independent pure-Python row-wise
flattener over the same envelope dicts. The expected rows are rendered
into the oracle SQL as typed VALUES, so the DuckDB side needs no files
and no reader code — if the Spark flatten drifts from the documented
semantics (ns->µs truncation, lowercase hex ids, canonical sorted-key
attribute JSON, proto3 defaults, enum maps), the value hash diverges.

``read_logs_pb`` runs the same logical envelopes through the protobuf
encoder (sources/otlp_proto_encode) and the pure-Python proto wire
decoder (sources/otlp_proto), so the JSON and protobuf decode paths
must BOTH match the same hand-flattened rows.

Scale note: fixture tables are a few rows by design — these entries
gate decode CORRECTNESS; reader throughput is covered by the seal
bench, which uses the identical flatten plan.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from duckdb_otlp_spark import schemas as _schemas

# ---------------------------------------------------------------------------
# Fixture envelopes (proto3-JSON shape, pb-encodable: numeric enums,
# valid hex ids, ASCII-only strings with no JSON escapes)
# ---------------------------------------------------------------------------

_NS = 1710000000000000000  # 2024-03-09T16:00:00Z


def _kv(key, value):
    if isinstance(value, bool):
        return {"key": key, "value": {"boolValue": value}}
    if isinstance(value, int):
        return {"key": key, "value": {"intValue": str(value)}}
    if isinstance(value, float):
        return {"key": key, "value": {"doubleValue": value}}
    if isinstance(value, list):
        return {"key": key, "value": {"arrayValue": {
            "values": [{"intValue": str(x)} for x in value]}}}
    return {"key": key, "value": {"stringValue": str(value)}}


LOGS_ENVELOPES = [
    {"resourceLogs": [{
        "resource": {"attributes": [_kv("service.name", "checkout"),
                                    _kv("host.name", "web-1"),
                                    _kv("deploy.env", "prod")]},
        "scopeLogs": [{
            "scope": {"name": "app-logger", "version": "1.2.0",
                      "attributes": [_kv("lib", "otel")]},
            "logRecords": [
                {"timeUnixNano": str(_NS),
                 "observedTimeUnixNano": str(_NS + 1_000_000),
                 "severityNumber": 9, "severityText": "INFO",
                 "body": {"stringValue": "service ready"},
                 "attributes": [_kv("http.method", "GET"), _kv("retries", 2),
                                _kv("ratio", 0.25), _kv("cache", True),
                                _kv("codes", [7, 11])],
                 "traceId": "5B8EFFF798038103D269B633813FC60C",
                 "spanId": "EEE19B7EC3C1B174",
                 "eventName": "startup", "flags": 1,
                 "droppedAttributesCount": 3},
                {"timeUnixNano": str(_NS + 10_000_000_000),
                 "severityNumber": 13, "severityText": "WARN",
                 "body": {"intValue": "503"},
                 "traceId": "", "spanId": ""},
            ]}]}]},
    {"resourceLogs": [{
        "resource": {"attributes": [_kv("service.name", "billing")]},
        "scopeLogs": [{
            "scope": {"name": "min-logger"},
            "logRecords": [
                {"timeUnixNano": str(_NS + 20_000_000_000),
                 "severityNumber": 17, "severityText": "ERROR",
                 "body": {"stringValue": "payment failed"},
                 "attributes": [_kv("error.code", 7)],
                 "traceId": "00000000000000000000000000000002",
                 "spanId": "0000000000000002"},
                {"timeUnixNano": str(_NS + 30_000_000_000),
                 "severityNumber": 0},
            ]}]}]},
]

TRACES_ENVELOPES = [
    {"resourceSpans": [{
        "resource": {"attributes": [_kv("service.name", "api"),
                                    _kv("service.namespace", "core")]},
        "scopeSpans": [{
            "scope": {"name": "tracer", "version": "0.9"},
            "spans": [
                {"traceId": "5B8EFFF798038103D269B633813FC60C",
                 "spanId": "EEE19B7EC3C1B174",
                 "parentSpanId": "EEE19B7EC3C1B173",
                 "traceState": "vendor=1",
                 "name": "GET /cart", "kind": 2,
                 "startTimeUnixNano": str(_NS),
                 "endTimeUnixNano": str(_NS + 100_000_000),
                 "attributes": [_kv("http.method", "GET"),
                                _kv("http.status_code", 500)],
                 "status": {"code": 2, "message": "boom"},
                 "events": [{"timeUnixNano": str(_NS + 50_000_000),
                             "name": "retry",
                             "attributes": [_kv("attempt", 2)]}],
                 "links": [{"traceId": "5B8EFFF798038103D269B633813FC60D",
                            "spanId": "EEE19B7EC3C1B180"}],
                 "droppedEventsCount": 1, "flags": 1},
                {"traceId": "5B8EFFF798038103D269B633813FC60C",
                 "spanId": "EEE19B7EC3C1B175",
                 "parentSpanId": "EEE19B7EC3C1B174",
                 "name": "db query", "kind": 3,
                 "startTimeUnixNano": str(_NS + 1_000_000),
                 "endTimeUnixNano": str(_NS + 2_000_000),
                 "attributes": [_kv("db.system", "postgres")],
                 "status": {"code": 0}},
                {"traceId": "5B8EFFF798038103D269B633813FC60C",
                 "spanId": "EEE19B7EC3C1B176",
                 "parentSpanId": "",
                 "name": "tick"},
            ]}]}]},
]

METRICS_ENVELOPES = [
    {"resourceMetrics": [{
        "resource": {"attributes": [_kv("service.name", "meter-svc")]},
        "scopeMetrics": [{
            "scope": {"name": "meter"},
            "metrics": [
                {"name": "cpu.usage", "description": "CPU load", "unit": "1",
                 "gauge": {"dataPoints": [
                     {"timeUnixNano": str(_NS), "asDouble": 0.75,
                      "attributes": [_kv("core", 0)], "flags": 1,
                      "exemplars": [{"timeUnixNano": str(_NS),
                                     "asDouble": 0.5,
                                     "spanId": "EEE19B7EC3C1B174",
                                     "traceId": "5B8EFFF798038103D269B633813FC60C"}]},
                     {"timeUnixNano": str(_NS + 60_000_000_000),
                      "startTimeUnixNano": str(_NS), "asInt": "42"}]}},
                {"name": "requests.total", "description": "Requests",
                 "unit": "1",
                 "sum": {"dataPoints": [
                     {"timeUnixNano": str(_NS),
                      "startTimeUnixNano": str(_NS - 60_000_000_000),
                      "asInt": "100", "attributes": [_kv("method", "GET")]}],
                     "aggregationTemporality": 1, "isMonotonic": True}},
                {"name": "queue.depth", "unit": "jobs",
                 "sum": {"dataPoints": [
                     {"timeUnixNano": str(_NS), "asDouble": 5.0}],
                     "aggregationTemporality": 2}},
                {"name": "latency", "description": "Latency", "unit": "ms",
                 "histogram": {"dataPoints": [
                     {"timeUnixNano": str(_NS),
                      "startTimeUnixNano": str(_NS - 60_000_000_000),
                      "count": "10", "sum": 55.5, "min": 1.0, "max": 20.0,
                      "bucketCounts": ["1", "2", "3", "4"],
                      "explicitBounds": [1.0, 5.0, 10.0],
                      "attributes": [_kv("route", "/")]},
                     {"timeUnixNano": str(_NS + 60_000_000_000),
                      "count": "0"}],
                     "aggregationTemporality": 2}},
                {"name": "resp.size", "description": "Response sizes",
                 "unit": "By",
                 "exponentialHistogram": {"dataPoints": [
                     {"timeUnixNano": str(_NS),
                      "startTimeUnixNano": str(_NS - 60_000_000_000),
                      "count": "12", "sum": 45.5, "min": 1.0, "max": 9.5,
                      "scale": 3, "zeroCount": "1", "zeroThreshold": 0.001,
                      "positive": {"offset": 2, "bucketCounts": ["3", "4", "2"]}}],
                     "aggregationTemporality": 2}},
            ]}]}]},
]


# ---------------------------------------------------------------------------
# Independent expected-row flattener (pure Python, row-wise — shares no
# code with the Spark flatten; drift between the two fails the gate)
# ---------------------------------------------------------------------------

def _i(v, default=0):
    """Proto int leaf that an envelope may carry as int (JSON files) or
    as its decimal string form (the wire decoders emit schema-exact
    strings as of r11). Non-numeric strings (enum NAMES like
    AGGREGATION_TEMPORALITY_DELTA) pass through untouched."""
    if v is None:
        return default
    if isinstance(v, str) and v.lstrip("-").isdigit():
        return int(v)
    return v


def _ts(ns_str):
    if ns_str is None:
        return None
    return datetime(1970, 1, 1) + timedelta(microseconds=int(ns_str) // 1000)


def _quote(s):
    return "null" if s is None else '"' + s + '"'


def _dbl_text(x):
    f = float(x)
    if abs(f) < 9.0e15 and f == int(f):
        return f"{int(f)}.0"
    return str(f)


def _any_json(v):
    if v is None:
        return "null"
    if "stringValue" in v:
        return _quote(v["stringValue"])
    if "boolValue" in v:
        return "true" if v["boolValue"] else "false"
    if "intValue" in v:
        return str(int(v["intValue"]))
    if "doubleValue" in v:
        return _dbl_text(v["doubleValue"])
    if "bytesValue" in v:
        # base64 text, matching the flatten's JSON-quote of bytesValue
        return _quote(v["bytesValue"])
    if "arrayValue" in v:
        return "[" + ",".join(_any_json(x) for x in v["arrayValue"].get("values", [])) + "]"
    if "kvlistValue" in v:
        return "{" + ",".join(_quote(e["key"]) + ":" + _any_json(e["value"])
                              for e in v["kvlistValue"].get("values", [])) + "}"
    return "null"


def _attrs_json(attrs):
    if attrs is None:
        return "{}"
    return "{" + ",".join(
        _quote(a["key"]) + ":" + _any_json(a["value"])
        for a in sorted(attrs, key=lambda a: a["key"])) + "}"


def _hex(h):
    return h.lower() if h else None


def _attr(resource, key):
    for a in (resource or {}).get("attributes") or []:
        if a["key"] == key:
            return a["value"].get("stringValue")
    return None


def _body(v):
    if v is None:
        return None
    if "stringValue" in v:
        return v["stringValue"]
    r = _any_json(v)
    return None if r == "null" else r


def _scope_cols(resource, scope):
    return {
        "service_name": _attr(resource, "service.name"),
        "service_namespace": _attr(resource, "service.namespace"),
        "service_instance_id": _attr(resource, "service.instance.id"),
        "resource_attributes": _attrs_json((resource or {}).get("attributes")),
        "scope_name": (scope or {}).get("name"),
        "scope_version": (scope or {}).get("version"),
        "scope_attributes": _attrs_json((scope or {}).get("attributes")),
    }


def expected_logs(envelopes=None):
    rows = []
    for env in (LOGS_ENVELOPES if envelopes is None else envelopes):
        for rl in env["resourceLogs"]:
            for sl in rl["scopeLogs"]:
                sc = _scope_cols(rl.get("resource"), sl.get("scope"))
                for r in sl["logRecords"]:
                    sev = _i(r.get("severityNumber"), None)
                    rows.append({
                        "time_unix_nano": _ts(r.get("timeUnixNano")),
                        "observed_time_unix_nano": _ts(r.get("observedTimeUnixNano")),
                        "trace_id": _hex(r.get("traceId")),
                        "span_id": _hex(r.get("spanId")),
                        "service_name": sc["service_name"],
                        "service_namespace": sc["service_namespace"],
                        "service_instance_id": sc["service_instance_id"],
                        "severity_number": sev if sev else None,
                        "severity_text": r.get("severityText"),
                        "event_name": r.get("eventName"),
                        "body": _body(r.get("body")),
                        "resource_attributes": sc["resource_attributes"],
                        "scope_name": sc["scope_name"],
                        "scope_version": sc["scope_version"],
                        "scope_attributes": sc["scope_attributes"],
                        "log_attributes": _attrs_json(r.get("attributes")),
                        "dropped_attributes_count": _i(r.get("droppedAttributesCount")),
                        "flags": _i(r.get("flags")),
                    })
    return sorted(rows, key=lambda r: r["time_unix_nano"])


def _events_json(events):
    if events is None:
        return "[]"
    return "[" + ",".join(
        '{"time_unix_nano":%s,"name":%s,"attributes":%s,"dropped_attributes_count":%d}'
        % (e.get("timeUnixNano", "null"), _quote(e.get("name")),
           _attrs_json(e.get("attributes")), _i(e.get("droppedAttributesCount")))
        for e in events) + "]"


def _links_json(links):
    if links is None:
        return "[]"
    return "[" + ",".join(
        '{"trace_id":%s,"span_id":%s,"trace_state":%s,"attributes":%s,'
        '"dropped_attributes_count":%d}'
        % (_quote(_hex(li.get("traceId"))), _quote(_hex(li.get("spanId"))),
           _quote(li.get("traceState")), _attrs_json(li.get("attributes")),
           _i(li.get("droppedAttributesCount")))
        for li in links) + "]"


def expected_traces(envelopes=None):
    rows = []
    for env in (TRACES_ENVELOPES if envelopes is None else envelopes):
        for rs in env["resourceSpans"]:
            for ss in rs["scopeSpans"]:
                sc = _scope_cols(rs.get("resource"), ss.get("scope"))
                for s in ss["spans"]:
                    start = int(s["startTimeUnixNano"]) if "startTimeUnixNano" in s else None
                    end = int(s["endTimeUnixNano"]) if "endTimeUnixNano" in s else None
                    status = s.get("status") or {}
                    rows.append({
                        "start_time_unix_nano": _ts(s.get("startTimeUnixNano")),
                        "duration_time_unix_nano": (end or 0) - (start or 0),
                        "trace_id": _hex(s.get("traceId")),
                        "span_id": _hex(s.get("spanId")),
                        "parent_span_id": _hex(s.get("parentSpanId")),
                        "trace_state": s.get("traceState"),
                        "service_name": sc["service_name"],
                        "service_namespace": sc["service_namespace"],
                        "service_instance_id": sc["service_instance_id"],
                        "name": s.get("name"),
                        "kind": _i(s.get("kind")),
                        "status_code": _i(status.get("code")),
                        "status_status_message": status.get("message"),
                        "resource_attributes": sc["resource_attributes"],
                        "scope_name": sc["scope_name"],
                        "scope_version": sc["scope_version"],
                        "scope_attributes": sc["scope_attributes"],
                        "span_attributes": _attrs_json(s.get("attributes")),
                        "events_json": _events_json(s.get("events")),
                        "links_json": _links_json(s.get("links")),
                        "dropped_attributes_count": _i(s.get("droppedAttributesCount")),
                        "dropped_events_count": _i(s.get("droppedEventsCount")),
                        "dropped_links_count": _i(s.get("droppedLinksCount")),
                        "flags": _i(s.get("flags")),
                    })
    return sorted(rows, key=lambda r: r["name"])


def _exemplars_json(exemplars):
    if exemplars is None:
        return "[]"
    out = []
    for e in exemplars:
        if "asDouble" in e:
            val = _dbl_text(e["asDouble"])
        elif "asInt" in e:
            val = str(int(e["asInt"]))
        else:
            val = "null"
        out.append('{"time_unix_nano":%s,"value":%s,"span_id":%s,"trace_id":%s}'
                   % (e.get("timeUnixNano", "null"), val,
                      _quote(_hex(e.get("spanId"))), _quote(_hex(e.get("traceId")))))
    return "[" + ",".join(out) + "]"


def _metric_rows(shape, envelopes=None):
    for env in (METRICS_ENVELOPES if envelopes is None else envelopes):
        for rm in env["resourceMetrics"]:
            for sm in rm["scopeMetrics"]:
                sc = _scope_cols(rm.get("resource"), sm.get("scope"))
                for m in sm["metrics"]:
                    if shape in m:
                        for dp in m[shape].get("dataPoints", []):
                            yield sc, m, dp


def _metric_common(sc, m, dp):
    return {
        "time_unix_nano": _ts(dp.get("timeUnixNano")),
        "start_time_unix_nano": _ts(dp.get("startTimeUnixNano")),
        "name": m.get("name"),
        "description": m.get("description"),
        "unit": m.get("unit"),
        **sc,
        "metric_attributes": _attrs_json(dp.get("attributes")),
        "flags": _i(dp.get("flags")),
        "exemplars_json": _exemplars_json(dp.get("exemplars")),
    }


def expected_gauge(envelopes=None):
    rows = []
    for sc, m, dp in _metric_rows("gauge", envelopes):
        c = _metric_common(sc, m, dp)
        c["int_value"] = int(dp["asInt"]) if "asInt" in dp else None
        c["double_value"] = float(dp["asDouble"]) if "asDouble" in dp else None
        rows.append(c)
    return sorted(rows, key=lambda r: r["time_unix_nano"])


def expected_sum(envelopes=None):
    rows = []
    for sc, m, dp in _metric_rows("sum", envelopes):
        c = _metric_common(sc, m, dp)
        c["int_value"] = int(dp["asInt"]) if "asInt" in dp else None
        c["double_value"] = float(dp["asDouble"]) if "asDouble" in dp else None
        c["aggregation_temporality"] = _i(m["sum"].get("aggregationTemporality"))
        c["is_monotonic"] = m["sum"].get("isMonotonic", False)
        rows.append(c)
    return sorted(rows, key=lambda r: r["name"])


def expected_histogram(envelopes=None):
    rows = []
    for sc, m, dp in _metric_rows("histogram", envelopes):
        c = _metric_common(sc, m, dp)
        c["count"] = int(dp["count"]) if "count" in dp else None
        c["sum"] = float(dp["sum"]) if "sum" in dp else None
        c["min"] = float(dp["min"]) if "min" in dp else None
        c["max"] = float(dp["max"]) if "max" in dp else None
        c["bucket_counts"] = ([int(x) for x in dp["bucketCounts"]]
                              if "bucketCounts" in dp else None)
        c["explicit_bounds"] = ([float(x) for x in dp["explicitBounds"]]
                                if "explicitBounds" in dp else None)
        c["aggregation_temporality"] = _i(m["histogram"].get("aggregationTemporality"))
        rows.append(c)
    return sorted(rows, key=lambda r: r["time_unix_nano"])


def expected_exp_histogram(envelopes=None):
    rows = []
    for sc, m, dp in _metric_rows("exponentialHistogram", envelopes):
        c = _metric_common(sc, m, dp)
        pos, neg = dp.get("positive") or {}, dp.get("negative") or {}
        c["count"] = int(dp["count"]) if "count" in dp else None
        c["sum"] = float(dp["sum"]) if "sum" in dp else None
        c["min"] = float(dp["min"]) if "min" in dp else None
        c["max"] = float(dp["max"]) if "max" in dp else None
        c["scale"] = _i(dp.get("scale"))
        c["zero_count"] = int(dp.get("zeroCount", 0))
        c["zero_threshold"] = (float(dp["zeroThreshold"])
                               if "zeroThreshold" in dp else None)
        c["positive_offset"] = _i(pos.get("offset"))
        c["positive_bucket_counts"] = [int(x) for x in pos.get("bucketCounts", [])]
        c["negative_offset"] = _i(neg.get("offset"))
        c["negative_bucket_counts"] = [int(x) for x in neg.get("bucketCounts", [])]
        c["aggregation_temporality"] = \
            _i(m["exponentialHistogram"].get("aggregationTemporality"))
        rows.append(c)
    return sorted(rows, key=lambda r: r["time_unix_nano"])


# ---------------------------------------------------------------------------
# Expected rows -> DuckDB VALUES oracle SQL
# ---------------------------------------------------------------------------

_DUCK_TYPES = {
    "TimestampNTZType()": "TIMESTAMP",
    "StringType()": "VARCHAR",
    "IntegerType()": "INTEGER",
    "LongType()": "BIGINT",
    "DoubleType()": "DOUBLE",
    "BooleanType()": "BOOLEAN",
    "ArrayType(LongType(), True)": "BIGINT[]",
    "ArrayType(DoubleType(), True)": "DOUBLE[]",
}


def _sql_literal(v, duck_type):
    if v is None:
        return f"CAST(NULL AS {duck_type})"
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, list):
        inner = ", ".join(str(x) for x in v)
        return f"CAST([{inner}] AS {duck_type})"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if duck_type == "DOUBLE":
        return f"CAST({v!r} AS DOUBLE)"
    return f"CAST({v} AS {duck_type})"


def _arrays_as_json(rows, schema):
    """Clone ``(rows, schema)`` with every ArrayType column serialized to
    compact JSON text (``[1,2,3]``).

    The driver's oracle canonicalizer (pandas column-sort + value hash)
    cannot hash list cells, so the two histogram gate entries must emit
    scalar columns.  The JSON text is derived FROM the parsed arrays on
    both sides — array decoding is still fully exercised.  Python's
    ``json.dumps`` matches Spark's Jackson-backed ``F.to_json`` for the
    fixture's element values (integers and short doubles like 5.0)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType
    arr = {f.name for f in schema.fields if isinstance(f.dataType, ArrayType)}
    new_schema = StructType([
        StructField(f.name,
                    StringType() if f.name in arr else f.dataType,
                    f.nullable)
        for f in schema.fields])
    new_rows = [
        {k: (json.dumps(v, separators=(",", ":"))
             if k in arr and v is not None else v)
         for k, v in r.items()}
        for r in rows]
    return new_rows, new_schema


def _project_arrays_to_json(df: DataFrame) -> DataFrame:
    """Spark twin of :func:`_arrays_as_json`: project every ArrayType
    column through ``to_json`` keeping its name, other columns as-is."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType
    return df.select(*[
        F.to_json(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, ArrayType) else F.col(f.name)
        for f in df.schema.fields])


def _values_sql(rows, schema, order_col):
    cols = [f.name for f in schema.fields]
    types = {f.name: _DUCK_TYPES[repr(f.dataType)] for f in schema.fields}
    tuples = ",\n".join(
        "(" + ", ".join(_sql_literal(r[c], types[c]) for c in cols) + ")"
        for r in rows)
    col_list = ", ".join(f'"{c}"' for c in cols)
    return (f"SELECT {col_list} FROM (VALUES\n{tuples}\n) "
            f"AS t({col_list}) ORDER BY \"{order_col}\"")


READER_GATE_SQL: dict[str, str] = {
    "read_logs_json": _values_sql(
        expected_logs(), _schemas.LOGS_SCHEMA, "time_unix_nano"),
    "read_traces_json": _values_sql(
        expected_traces(), _schemas.TRACES_SCHEMA, "name"),
    "read_metrics_gauge_json": _values_sql(
        expected_gauge(), _schemas.METRICS_GAUGE_SCHEMA, "time_unix_nano"),
    "read_metrics_sum_json": _values_sql(
        expected_sum(), _schemas.METRICS_SUM_SCHEMA, "name"),
    "read_metrics_histogram_json": _values_sql(
        *_arrays_as_json(expected_histogram(),
                         _schemas.METRICS_HISTOGRAM_SCHEMA),
        "time_unix_nano"),
    "read_metrics_exp_histogram_json": _values_sql(
        *_arrays_as_json(expected_exp_histogram(),
                         _schemas.METRICS_EXP_HISTOGRAM_SCHEMA),
        "time_unix_nano"),
}
# the pb path must match the SAME expected rows as the JSON path
READER_GATE_SQL["read_logs_pb"] = READER_GATE_SQL["read_logs_json"]


# ---------------------------------------------------------------------------
# OTAP (Arrow) decode path under the driver gate.  Spark side: the real
# read_otap_* readers over the committed Arrow-IPC fixtures in
# tests/data/otap (one BatchArrowRecords message per signal, written by
# the test-side encoder tests/otap_fixtures.py, which shares no code with
# sources/otap.py and covers its delta / quasidelta / grouped-parent id
# encodings and CBOR values).  Oracle side: each file's .otlp protobuf
# twin decoded by the pure-Python proto wire decoder and hand-flattened by
# the SAME row-wise flattener the other gate entries use — zero OTAP code
# on the oracle path.  This is the reference's own EXCEPT-parity contract
# (reference: test/sql/read_otap.test:44-79) upgraded to a value-hash check.
# ---------------------------------------------------------------------------

_OTAP_FIXTURE_DIR = Path(__file__).resolve().parents[1] / "tests" / "data" / "otap"


def _otap_twin(signal: str) -> dict:
    from duckdb_otlp_spark.sources.otlp_proto import DECODERS
    return DECODERS[signal](
        (_OTAP_FIXTURE_DIR / f"{signal}-initial.otlp").read_bytes())


_otap_menv = _otap_twin("metrics")
READER_GATE_SQL.update({
    "read_otap_logs": _values_sql(
        expected_logs([_otap_twin("logs")]), _schemas.LOGS_SCHEMA,
        "time_unix_nano"),
    "read_otap_traces": _values_sql(
        expected_traces([_otap_twin("traces")]),
        _schemas.TRACES_SCHEMA, "name"),
    "read_otap_metrics_gauge": _values_sql(
        expected_gauge([_otap_menv]), _schemas.METRICS_GAUGE_SCHEMA,
        "time_unix_nano"),
    "read_otap_metrics_sum": _values_sql(
        expected_sum([_otap_menv]), _schemas.METRICS_SUM_SCHEMA, "name"),
    "read_otap_metrics_histogram": _values_sql(
        *_arrays_as_json(expected_histogram([_otap_menv]),
                         _schemas.METRICS_HISTOGRAM_SCHEMA),
        "time_unix_nano"),
    "read_otap_metrics_exp_histogram": _values_sql(
        *_arrays_as_json(expected_exp_histogram([_otap_menv]),
                         _schemas.METRICS_EXP_HISTOGRAM_SCHEMA),
        "time_unix_nano"),
})


# ---------------------------------------------------------------------------
# Fixture files + Spark-side gate queries
# ---------------------------------------------------------------------------

def _fixture_dir() -> Path:
    root = Path(tempfile.gettempdir()) / "duckdb_otlp_spark_reader_gate_v1"
    root.mkdir(parents=True, exist_ok=True)

    def put(name: str, data: bytes) -> None:
        p = root / name
        if p.exists():
            return
        tmp = root / f".{name}.{os.getpid()}.tmp"
        tmp.write_bytes(data)
        tmp.rename(p)           # atomic: concurrent writers converge

    put("logs.jsonl", "".join(
        json.dumps(e, separators=(",", ":")) + "\n"
        for e in LOGS_ENVELOPES).encode())
    put("traces.jsonl", "".join(
        json.dumps(e, separators=(",", ":")) + "\n"
        for e in TRACES_ENVELOPES).encode())
    put("metrics.jsonl", "".join(
        json.dumps(e, separators=(",", ":")) + "\n"
        for e in METRICS_ENVELOPES).encode())

    from duckdb_otlp_spark.sources.otlp_proto_encode import encode_envelope_pb
    for i, env in enumerate(LOGS_ENVELOPES):
        put(f"logs_{i}.pb", encode_envelope_pb(env))
    return root


def q_read_logs_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_logs
    df = read_otlp_logs(spark, str(_fixture_dir() / "logs.jsonl"))
    return df.orderBy("time_unix_nano")


def q_read_logs_pb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_logs
    df = read_otlp_logs(spark, str(_fixture_dir() / "logs_*.pb"))
    return df.orderBy("time_unix_nano")


def q_read_traces_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_traces
    df = read_otlp_traces(spark, str(_fixture_dir() / "traces.jsonl"))
    return df.orderBy("name")


def q_read_metrics_gauge_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_metrics_gauge
    df = read_otlp_metrics_gauge(spark, str(_fixture_dir() / "metrics.jsonl"))
    return df.orderBy("time_unix_nano")


def q_read_metrics_sum_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_metrics_sum
    df = read_otlp_metrics_sum(spark, str(_fixture_dir() / "metrics.jsonl"))
    return df.orderBy("name")


def q_read_metrics_histogram_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_metrics_histogram
    df = read_otlp_metrics_histogram(spark, str(_fixture_dir() / "metrics.jsonl"))
    # bucket_counts / explicit_bounds → JSON text (see _arrays_as_json)
    return _project_arrays_to_json(df).orderBy("time_unix_nano")


def q_read_metrics_exp_histogram_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_otlp_spark.sources.otlp_json import read_otlp_metrics_exp_histogram
    df = read_otlp_metrics_exp_histogram(spark, str(_fixture_dir() / "metrics.jsonl"))
    # positive/negative bucket arrays → JSON text (see _arrays_as_json)
    return _project_arrays_to_json(df).orderBy("time_unix_nano")


def q_read_otap_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAP logs decode under the value-hash gate: the real
    read_otap_logs over the committed logs-initial.bar fixture vs its
    protobuf twin hand-flattened on the oracle side (reference contract:
    test/sql/read_otap.test:44-79)."""
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    df = OTAP_READERS["logs"](
        spark, str(_OTAP_FIXTURE_DIR / "logs-initial.bar"))
    return df.orderBy("time_unix_nano")


def q_read_otap_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAP traces decode under the driver's value-hash gate: the real
    read_otap_traces over the committed traces-initial.bar fixture vs
    the protobuf twin hand-flattened on the oracle side — the
    reference's EXCEPT-parity contract (test/sql/read_otap.test:44-79)
    upgraded to a value-hash check, second OTAP signal in the window
    after logs."""
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    df = OTAP_READERS["traces"](
        spark, str(_OTAP_FIXTURE_DIR / "traces-initial.bar"))
    return df.orderBy("name")


def q_read_otap_metrics_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAP gauge decode under the driver's value-hash gate — third OTAP
    signal in the window.  Spark side: the real read_otap_metrics_gauge
    over the committed metrics-initial.bar fixture; oracle side: the
    protobuf twin decoded by the pure-Python wire decoder and flattened
    by the same row-wise flattener the OTLP gate entries use (reference
    contract: test/sql/read_otap.test:44-103)."""
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    df = OTAP_READERS["metrics_gauge"](
        spark, str(_OTAP_FIXTURE_DIR / "metrics-initial.bar"))
    return df.orderBy("time_unix_nano")


def q_read_otap_metrics_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAP sum decode under the driver's value-hash gate — fourth OTAP
    signal in the window (same VALUES-twin mechanism as gauge)."""
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    df = OTAP_READERS["metrics_sum"](
        spark, str(_OTAP_FIXTURE_DIR / "metrics-initial.bar"))
    return df.orderBy("name")


def q_read_otap_metrics_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAP histogram decode under the driver's value-hash gate — fifth
    OTAP signal in the window (same VALUES-twin mechanism as gauge/sum;
    bucket_counts / explicit_bounds arrays → JSON text on both sides via
    the r4 _arrays_as_json mechanism, since the driver canonicalizer
    cannot hash list cells)."""
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    df = OTAP_READERS["metrics_histogram"](
        spark, str(_OTAP_FIXTURE_DIR / "metrics-initial.bar"))
    return _project_arrays_to_json(df).orderBy("time_unix_nano")


def q_read_otap_metrics_exp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTAP exponential-histogram decode under the driver's value-hash
    gate — sixth and final OTAP signal in the window; all six
    read_otap_* readers are now driver hard-gate certified (reference
    contract: test/sql/read_otap.test:44-103)."""
    from duckdb_otlp_spark.sources.otap import OTAP_READERS
    df = OTAP_READERS["metrics_exp_histogram"](
        spark, str(_OTAP_FIXTURE_DIR / "metrics-initial.bar"))
    return _project_arrays_to_json(df).orderBy("time_unix_nano")


READER_GATE_QUERIES = {
    "read_logs_json": q_read_logs_json,
    "read_logs_pb": q_read_logs_pb,
    "read_traces_json": q_read_traces_json,
    "read_metrics_gauge_json": q_read_metrics_gauge_json,
    "read_metrics_sum_json": q_read_metrics_sum_json,
    "read_metrics_histogram_json": q_read_metrics_histogram_json,
    "read_metrics_exp_histogram_json": q_read_metrics_exp_histogram_json,
    "read_otap_logs": q_read_otap_logs,
    "read_otap_traces": q_read_otap_traces,
    "read_otap_metrics_gauge": q_read_otap_metrics_gauge,
    "read_otap_metrics_sum": q_read_otap_metrics_sum,
    "read_otap_metrics_histogram": q_read_otap_metrics_histogram,
    "read_otap_metrics_exp_histogram": q_read_otap_metrics_exp_histogram,
}
