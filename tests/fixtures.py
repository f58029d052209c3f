"""Deterministic OTLP/JSON test fixtures.

Regenerated from the envelope-shape + golden-expectation spec in
/root/repo/FIXTURES.md (derived from the reference's test corpus at
test/data/ and test/sql/*.test — content is equivalent, not copied).
"""

from __future__ import annotations

import json
from pathlib import Path


def _kv(key: str, value):
    if isinstance(value, bool):
        return {"key": key, "value": {"boolValue": value}}
    if isinstance(value, int):
        return {"key": key, "value": {"intValue": str(value)}}
    if isinstance(value, float):
        return {"key": key, "value": {"doubleValue": value}}
    return {"key": key, "value": {"stringValue": str(value)}}


def row_multiset(df) -> list[str]:
    """``df``'s rows as a sorted list of their ``repr``s, collected to the
    driver: two frames hold the same row multiset exactly when these
    lists are equal. Stricter than ``exceptAll`` both ways (it also tells
    -0.0 from 0.0) and plans no JVM set operation over the compared
    frames' expression trees."""
    return sorted(map(repr, (tuple(r) for r in df.collect())))


_RESOURCE = {"attributes": [_kv("service.name", "test-service"), _kv("host.name", "test-host")]}


def _log_env(records):
    return {"resourceLogs": [{"resource": _RESOURCE,
                              "scopeLogs": [{"scope": {"name": "test-logger"},
                                             "logRecords": records}]}]}


def _span_env(spans, resource=_RESOURCE, scope={"name": "test-tracer"}):
    rs = {"scopeSpans": [{"spans": spans}]}
    if resource is not None:
        rs["resource"] = resource
    if scope is not None:
        rs["scopeSpans"][0]["scope"] = scope
    return {"resourceSpans": [rs]}


def _metric_env(metrics):
    return {"resourceMetrics": [{"resource": _RESOURCE,
                                 "scopeMetrics": [{"scope": {"name": "test-meter"},
                                                   "metrics": metrics}]}]}


BASE_NS = 1640000000000000000

LOGS_SIMPLE = [
    _log_env([{"timeUnixNano": str(BASE_NS), "severityNumber": 9, "severityText": "INFO",
               "body": {"stringValue": "Application started"},
               "attributes": [_kv("event.name", "startup")],
               "traceId": "5B8EFFF798038103D269B633813FC60C", "spanId": "EEE19B7EC3C1B174"}]),
    _log_env([{"timeUnixNano": str(BASE_NS + 10_000_000_000), "severityNumber": 13,
               "severityText": "WARN", "body": {"stringValue": "High memory usage"},
               "attributes": [_kv("memory.pct", 87)],
               "traceId": "5B8EFFF798038103D269B633813FC60C", "spanId": "EEE19B7EC3C1B175"}]),
    _log_env([{"timeUnixNano": str(BASE_NS + 20_000_000_000), "severityNumber": 17,
               "severityText": "ERROR", "body": {"stringValue": "Connection refused"},
               "attributes": [_kv("error.type", "network")],
               "traceId": "5B8EFFF798038103D269B633813FC60D", "spanId": "EEE19B7EC3C1B176"}]),
]

LOGS_NULLS = [
    {"resourceLogs": [{"scopeLogs": [{"logRecords": [
        {"timeUnixNano": str(BASE_NS), "severityNumber": 9, "severityText": "INFO",
         "body": {"stringValue": "minimal log"}}]}]}]},
    {"resourceLogs": [{"scopeLogs": [{"logRecords": [
        {"timeUnixNano": str(BASE_NS), "severityNumber": 0,
         "body": {"stringValue": "no trace context"}, "traceId": "", "spanId": ""}]}]}]},
    {"resourceLogs": [{"scopeLogs": [{"logRecords": [
        {"timeUnixNano": str(BASE_NS), "severityNumber": 9, "body": {}}]}]}]},
]

LOGS_DOCUMENT = {"resourceLogs": [{"resource": {"attributes": [_kv("service.name", "my.service")]},
                                   "scopeLogs": [{"scope": {"name": "doc-logger"},
                                                  "logRecords": [
    {"timeUnixNano": str(BASE_NS), "severityNumber": 9, "severityText": "INFO",
     "body": {"stringValue": "Example log record"}}]}]}]}

TRACES_SIMPLE = [
    _span_env([{"traceId": "5B8EFFF798038103D269B633813FC60C", "spanId": "EEE19B7EC3C1B174",
                "parentSpanId": "EEE19B7EC3C1B173", "name": "GET /users", "kind": 2,
                "startTimeUnixNano": str(BASE_NS), "endTimeUnixNano": str(BASE_NS + 100_000_000),
                "attributes": [_kv("http.method", "GET"), _kv("http.status_code", 200)],
                "status": {"code": 0}}]),
    _span_env([{"traceId": "5B8EFFF798038103D269B633813FC60C", "spanId": "EEE19B7EC3C1B175",
                "parentSpanId": "EEE19B7EC3C1B174", "name": "SELECT * FROM users", "kind": 3,
                "startTimeUnixNano": str(BASE_NS + 10_000_000),
                "endTimeUnixNano": str(BASE_NS + 50_000_000),
                "attributes": [_kv("db.system", "postgresql")], "status": {"code": 0}}]),
    _span_env([{"traceId": "5B8EFFF798038103D269B633813FC60C", "spanId": "EEE19B7EC3C1B176",
                "parentSpanId": "EEE19B7EC3C1B174", "name": "cache lookup", "kind": 1,
                "startTimeUnixNano": str(BASE_NS + 5_000_000),
                "endTimeUnixNano": str(BASE_NS + 8_000_000),
                "attributes": [], "status": {"code": 0},
                "events": [{"timeUnixNano": str(BASE_NS + 6_000_000), "name": "cache.miss",
                            "attributes": [_kv("cache.key", "users:42")]}],
                "links": [{"traceId": "5B8EFFF798038103D269B633813FC60D",
                           "spanId": "EEE19B7EC3C1B180"}]}]),
]

TRACES_NULLS = [
    _span_env([{"traceId": "00000000000000000000000000000001", "spanId": "0000000000000001",
                "name": "minimal_span"}], resource=None, scope=None),
    {"resourceSpans": [{"resource": {}, "scopeSpans": [{"scope": {}, "spans": [
        {"traceId": "00000000000000000000000000000002", "spanId": "0000000000000002",
         "name": "empty_metadata", "kind": 0, "startTimeUnixNano": "0", "endTimeUnixNano": "0",
         "attributes": [], "events": [], "links": []}]}]}]},
    _span_env([{"traceId": "00000000000000000000000000000003", "spanId": "0000000000000003",
                "name": "no_parent", "parentSpanId": ""}], resource=None, scope=None),
]

SINGLE_TRACE = [
    _span_env([{"traceId": "00000000000000000000000000000001", "spanId": "00000000000000AA",
                "name": "single_span", "kind": 1,
                "startTimeUnixNano": str(BASE_NS), "endTimeUnixNano": str(BASE_NS + 1_000_000)}]),
]

METRICS_SIMPLE = [
    _metric_env([
        {"name": "http.server.requests", "description": "Request count", "unit": "1",
         "sum": {"dataPoints": [{"startTimeUnixNano": str(BASE_NS),
                                 "timeUnixNano": str(BASE_NS + 60_000_000_000),
                                 "asInt": "42", "attributes": [_kv("http.method", "GET")]}],
                 "aggregationTemporality": 2, "isMonotonic": True}},
        {"name": "system.memory.usage", "description": "Memory in use", "unit": "By",
         "gauge": {"dataPoints": [{"timeUnixNano": str(BASE_NS + 60_000_000_000),
                                   "asDouble": 524288000.0}]}},
        {"name": "http.server.duration", "description": "Request latency", "unit": "ms",
         "histogram": {"dataPoints": [{"startTimeUnixNano": str(BASE_NS),
                                       "timeUnixNano": str(BASE_NS + 60_000_000_000),
                                       "count": "100", "sum": 5000.0,
                                       "bucketCounts": ["10", "50", "30", "10"],
                                       "explicitBounds": [10.0, 50.0, 100.0]}],
                       "aggregationTemporality": 2}},
    ]),
]

METRICS_ALL_TYPES = [
    _metric_env([
        {"name": "latency.hist", "description": "Latency histogram", "unit": "ms",
         "histogram": {"dataPoints": [{"startTimeUnixNano": str(BASE_NS),
                                       "timeUnixNano": str(BASE_NS + 60_000_000_000),
                                       "count": "50", "sum": 250.0,
                                       "bucketCounts": ["5", "10", "15", "12", "8"],
                                       "explicitBounds": [5.0, 10.0, 20.0, 50.0],
                                       "attributes": [_kv("endpoint", "/health")]}],
                       "aggregationTemporality": 2}},
        {"name": "latency.exp", "description": "Exp latency histogram", "unit": "ms",
         "exponentialHistogram": {"dataPoints": [{
             "startTimeUnixNano": str(BASE_NS), "timeUnixNano": str(BASE_NS + 60_000_000_000),
             "count": "12", "sum": 45.5, "scale": 3, "zeroCount": "1",
             "min": 1.0, "max": 9.5,
             "positive": {"offset": 2, "bucketCounts": ["3", "4", "2"]},
             "negative": {"offset": -1, "bucketCounts": ["1", "1"]}}],
             "aggregationTemporality": 2}},
    ]),
]

METRICS_SUMMARY_ONLY = [
    _metric_env([
        {"name": "rpc.duration.summary", "unit": "ms",
         "summary": {"dataPoints": [{"timeUnixNano": str(BASE_NS),
                                     "count": "10", "sum": 100.0}]}},
    ]),
]

METRICS_TEMPORALITY_STRINGS = [
    _metric_env([
        {"name": "string.temporality.sum", "unit": "1",
         "sum": {"dataPoints": [{"timeUnixNano": str(BASE_NS), "asInt": "7"}],
                 "aggregationTemporality": "AGGREGATION_TEMPORALITY_DELTA",
                 "isMonotonic": False}},
    ]),
]

TS_BOUNDARY_LOGS = [
    _log_env([{"timeUnixNano": "9223372036854775000", "severityNumber": 9,
               "severityText": "INFO", "body": {"stringValue": "near the edge"}}]),
]

TS_OVERFLOW_LOGS = [
    _log_env([{"timeUnixNano": "18446744073709551000", "severityNumber": 9,
               "severityText": "INFO", "body": {"stringValue": "too big"}}]),
]

MULTIFILE_VALID_TRACES = [
    _span_env([{"traceId": "00000000000000000000000000000010", "spanId": "0000000000000010",
                "name": "valid_multifile_span", "startTimeUnixNano": str(BASE_NS),
                "endTimeUnixNano": str(BASE_NS + 1000)}]),
]


def write_fixtures(root: Path) -> dict[str, Path]:
    """Write every fixture file under ``root``; returns name -> path."""
    root.mkdir(parents=True, exist_ok=True)
    out: dict[str, Path] = {}

    def jsonl(name: str, envs):
        p = root / name
        p.write_text("".join(json.dumps(e) + "\n" for e in envs))
        out[name] = p

    jsonl("logs_simple.jsonl", LOGS_SIMPLE)
    jsonl("logs_nulls.jsonl", LOGS_NULLS)
    jsonl("traces_simple.jsonl", TRACES_SIMPLE)
    jsonl("traces_nulls.jsonl", TRACES_NULLS)
    jsonl("single_trace.jsonl", SINGLE_TRACE)
    jsonl("metrics_simple.jsonl", METRICS_SIMPLE)
    jsonl("metrics_all_types.jsonl", METRICS_ALL_TYPES)
    jsonl("metrics_summary_only.jsonl", METRICS_SUMMARY_ONLY)
    jsonl("metrics_temporality_strings.jsonl", METRICS_TEMPORALITY_STRINGS)
    jsonl("ts_boundary_logs.jsonl", TS_BOUNDARY_LOGS)
    jsonl("ts_overflow_logs.jsonl", TS_OVERFLOW_LOGS)
    jsonl("multifile_valid_traces.jsonl", MULTIFILE_VALID_TRACES)

    (root / "logs_document.json").write_text(json.dumps(LOGS_DOCUMENT, indent=2))
    out["logs_document.json"] = root / "logs_document.json"
    (root / "empty.jsonl").write_text("")
    out["empty.jsonl"] = root / "empty.jsonl"
    (root / "whitespace.jsonl").write_text("   \n  \n")
    out["whitespace.jsonl"] = root / "whitespace.jsonl"
    (root / "malformed.jsonl").write_text('{"resourceLogs": [ this is not json\n')
    out["malformed.jsonl"] = root / "malformed.jsonl"
    (root / "multifile_malformed_traces.jsonl").write_text('{"resourceSpans": [ oops\n')
    out["multifile_malformed_traces.jsonl"] = root / "multifile_malformed_traces.jsonl"
    return out


# ---------------------------------------------------------------------------
# proto3 encoder: moved into the package (sources/otlp_proto_encode) so the
# reader-gate fixtures can use it; re-exported here for the tests.
# ---------------------------------------------------------------------------

from duckdb_otlp_spark.sources.otlp_proto_encode import (  # noqa: E402,F401
    _enc_varint,
    encode_envelope_pb,
)
