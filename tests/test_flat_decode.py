"""Flat decode parity gate: protobuf reads, JSON reads and the live seal.

The program's one flattener (sources/flat_decode) runs executor-side in
Python and must be BYTE-IDENTICAL to the JVM flatten kept as the
oracle in tests/jvm_flatten.py — including JSON string escaping, double
rendering, int32 coercion windows, enum defaults, the AnyValue depth
cutoff, and the timestamp overflow error contract. The control side of
every comparison here is the envelope plan (``_load_envelopes``, whose
protobuf files arrive as typed envelope structs, or
``envelopes_from_lines``) + the oracle's ``flatten_*``, so any drift in
the flattener fails loudly.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Observation

from duckdb_otlp_spark import reader_gate
from duckdb_otlp_spark.schemas import TARGET_TABLES
from duckdb_otlp_spark.sources import flat_decode
from duckdb_otlp_spark.sources.otlp_json import (
    READERS,
    _load_envelopes,
    envelopes_from_lines,
    read_otlp_logs,
    read_otlp_traces,
)
from tests import fixtures as fx
from tests.fixtures import encode_envelope_pb, row_multiset
from tests.jvm_flatten import FLATTEN, flatten_logs

_NS = 1713000000000000000


def _kv(key, value):
    return {"key": key, "value": value}


# Adversarial attribute values: every leaf renderer and both sort/depth
# rules get exercised. Doubles stay inside the PROVEN-EXACT rendering
# zone (integral < 9e15, or normal non-integral — see flat_decode's
# documented caveat for |x| >= 9e15 / subnormals).
_HOSTILE_ATTRS = [
    _kv("z.quote", {"stringValue": 'say "hi" \\ there'}),
    _kv("a.ctrl", {"stringValue": "tab\there\nnl\x01etx\x1funit"}),
    _kv("m.unicode", {"stringValue": "héllo wörld — ünïcode ✓"}),
    _kv("b.bool", {"boolValue": True}),
    _kv("c.bool", {"boolValue": False}),
    _kv("d.int", {"intValue": "-9223372036854775808"}),
    _kv("e.int", {"intValue": "9223372036854775807"}),
    _kv("f.dbl.integral", {"doubleValue": -12345.0}),
    _kv("g.dbl.frac", {"doubleValue": 0.30000000000000004}),
    _kv("h.dbl.small", {"doubleValue": 2.5e-5}),
    _kv("i.dbl.neg", {"doubleValue": -1e-3}),
    _kv("j.dbl.zero", {"doubleValue": 0.0}),
    _kv("k.bytes", {"bytesValue": "aGVsbG8="}),
    _kv("l.array", {"arrayValue": {"values": [
        {"intValue": "7"}, {"stringValue": "x\"y"}, {"doubleValue": 1.5}]}}),
    _kv("n.kvlist", {"kvlistValue": {"values": [
        {"key": "inner", "value": {"stringValue": "v"}},
        {"key": "deep", "value": {"kvlistValue": {"values": [
            {"key": "d2", "value": {"arrayValue": {"values": [
                # depth 3 -> nested values at depth 0 degrade to null
                {"kvlistValue": {"values": [
                    {"key": "d4", "value": {"stringValue": "invisible"}}]}},
                {"intValue": "5"}]}}}]}}}]}}),
    # duplicate keys: canonical sort is stable, wire order preserved
    _kv("dup", {"stringValue": "first"}),
    _kv("dup", {"stringValue": "second"}),
]


def _hostile_logs_env():
    return {"resourceLogs": [
        {"resource": {"attributes": [
            _kv("service.name", {"stringValue": "svc\"quoted"}),
            _kv("host", {"intValue": "3"})]},
         "scopeLogs": [
             {"scope": {"name": "s1", "version": "0.1",
                        "attributes": [_kv("lib", {"stringValue": "x\ty"})]},
              "logRecords": [
                  {"timeUnixNano": str(_NS),
                   "observedTimeUnixNano": str(_NS + 999),
                   "severityNumber": 9, "severityText": "INFO",
                   "body": {"stringValue": "plain"},
                   "attributes": _HOSTILE_ATTRS,
                   "traceId": "5B8EFFF798038103D269B633813FC60C",
                   "spanId": "EEE19B7EC3C1B174",
                   "flags": 1, "droppedAttributesCount": 2},
                  # int32-overflow severity/flags/dropped -> JVM defaults
                  {"timeUnixNano": str(_NS + 1),
                   "severityNumber": 3000000000,
                   "flags": 4000000000,
                   "droppedAttributesCount": 2147483648,
                   "body": {"intValue": "503"}},
                  # severity 0 -> NULL; empty ids -> NULL; no body
                  {"timeUnixNano": str(_NS + 2), "severityNumber": 0,
                   "traceId": "", "spanId": ""},
                  # non-string bodies of every kind
                  {"timeUnixNano": str(_NS + 3),
                   "body": {"boolValue": True}},
                  {"timeUnixNano": str(_NS + 4),
                   "body": {"doubleValue": 2.75}},
                  {"timeUnixNano": str(_NS + 5),
                   "body": {"arrayValue": {"values": [
                       {"stringValue": "a"}, {"intValue": "1"}]}}},
                  {"timeUnixNano": str(_NS + 6),
                   "body": {"kvlistValue": {"values": [
                       {"key": "k", "value": {"doubleValue": -0.0}}]}}},
                  # i64::MAX boundary timestamp (valid, no overflow)
                  {"timeUnixNano": "9223372036854775807",
                   "severityNumber": 21},
              ]},
             # scope with no attributes / records without attrs
             {"scope": {"name": "s2"},
              "logRecords": [{"timeUnixNano": str(_NS + 7),
                              "eventName": "ev\"x"}]},
         ]},
        # resource without service.name
        {"resource": {"attributes": [_kv("only", {"boolValue": False})]},
         "scopeLogs": [{"logRecords": [{"timeUnixNano": str(_NS + 8)}]}]},
    ]}


def _hostile_traces_env():
    return {"resourceSpans": [
        {"resource": {"attributes": [
            _kv("service.name", {"stringValue": "api"}),
            _kv("weird", {"doubleValue": 123.456})]},
         "scopeSpans": [
             {"scope": {"name": "tr", "version": "1"},
              "spans": [
                  {"traceId": "5B8EFFF798038103D269B633813FC60C",
                   "spanId": "EEE19B7EC3C1B174",
                   "parentSpanId": "EEE19B7EC3C1B173",
                   "traceState": 'vendor="1"',
                   "name": "GET /x", "kind": 2,
                   "startTimeUnixNano": str(_NS),
                   "endTimeUnixNano": str(_NS + 12345),
                   "attributes": _HOSTILE_ATTRS,
                   "status": {"code": 2, "message": 'bo"om'},
                   "events": [{"timeUnixNano": str(_NS + 5),
                               "name": "retry\n2",
                               "attributes": [
                                   _kv("attempt", {"intValue": "2"})],
                               "droppedAttributesCount": 1}],
                   "links": [{"traceId": "5B8EFFF798038103D269B633813FC60D",
                              "spanId": "EEE19B7EC3C1B180",
                              "traceState": "x=y",
                              "attributes": [
                                  _kv("l", {"stringValue": "v\\w"})]}],
                   "droppedEventsCount": 4000000000,
                   "droppedLinksCount": 3,
                   "droppedAttributesCount": 1,
                   "flags": 1},
                  # missing times -> duration from coalesce(,0); enum
                  # overflow kind -> default 0; empty status
                  {"traceId": "5B8EFFF798038103D269B633813FC60C",
                   "spanId": "EEE19B7EC3C1B175",
                   "name": "tick", "kind": 3000000000,
                   "status": {}},
                  # end before start -> negative duration
                  {"traceId": "5B8EFFF798038103D269B633813FC60C",
                   "spanId": "EEE19B7EC3C1B176",
                   "name": "neg",
                   "startTimeUnixNano": str(_NS + 100),
                   "endTimeUnixNano": str(_NS)},
              ]}]},
    ]}


_EXEMPLARS = [
    {"timeUnixNano": str(_NS + 1), "asDouble": 0.125,
     "spanId": "EEE19B7EC3C1B174",
     "traceId": "5B8EFFF798038103D269B633813FC60C",
     "filteredAttributes": [_kv("f", {"stringValue": "x\"y"})]},
    {"timeUnixNano": str(_NS + 2), "asInt": "-7"},
    {},                                    # every field absent
]


def _hostile_metrics_env():
    """All four point types (plus a summary every reader skips), with
    exemplars, empty bucket lists, negative offsets and scales, and
    missing optional fields."""
    number_points = [
        {"timeUnixNano": str(_NS), "startTimeUnixNano": str(_NS - 1000),
         "asDouble": 1.5, "attributes": _HOSTILE_ATTRS,
         "exemplars": _EXEMPLARS, "flags": 1},
        {"timeUnixNano": str(_NS + 1), "asInt": "-9223372036854775808"},
        {"timeUnixNano": str(_NS + 2), "asDouble": -0.0},
        {"timeUnixNano": str(_NS + 3)},        # no value at all
    ]
    metrics = [
        {"name": "g.hostile", "description": 'd"q', "unit": "ms",
         "gauge": {"dataPoints": number_points}},
        {"name": "s.cumulative", "sum": {
            "aggregationTemporality": "AGGREGATION_TEMPORALITY_CUMULATIVE",
            "isMonotonic": True, "dataPoints": [
                {"timeUnixNano": str(_NS), "asInt": "42",
                 "exemplars": _EXEMPLARS[:2]}]}},
        {"name": "s.delta", "sum": {
            "aggregationTemporality": 1, "dataPoints": number_points[1:]}},
        {"name": "h", "histogram": {"aggregationTemporality": 2, "dataPoints": [
            {"timeUnixNano": str(_NS), "count": "3", "sum": 6.5,
             "bucketCounts": ["1", "2", "0"], "explicitBounds": [0.5, 10.0],
             "min": -1.0, "max": 5.0, "exemplars": _EXEMPLARS,
             "attributes": [_kv("le", {"doubleValue": 2.5e-5})]},
            {"timeUnixNano": str(_NS + 1), "count": "0",
             "bucketCounts": [], "explicitBounds": []},
            {"timeUnixNano": str(_NS + 2)},
        ]}},
        {"name": "e", "exponentialHistogram": {
            "aggregationTemporality": 1, "dataPoints": [
                {"timeUnixNano": str(_NS), "count": "10", "sum": -3.25,
                 "scale": -2, "zeroCount": "4", "zeroThreshold": 1e-9,
                 "positive": {"offset": -3, "bucketCounts": ["1", "0", "5"]},
                 "negative": {"offset": -1, "bucketCounts": []},
                 "min": -2.0, "max": 9.0, "exemplars": _EXEMPLARS,
                 "flags": 1},
                {"timeUnixNano": str(_NS + 1), "positive": {}},
            ]}},
        {"name": "summary.skipped", "summary": {"dataPoints": [
            {"timeUnixNano": str(_NS), "count": "1", "sum": 1.0}]}},
    ]
    return {"resourceMetrics": [
        {"resource": {"attributes": [
            _kv("service.name", {"stringValue": "m\tsvc"})]},
         "scopeMetrics": [{"scope": {"name": "meter", "version": "2"},
                           "metrics": metrics},
                          {"metrics": metrics[:1]}]},
        {"scopeMetrics": [{"metrics": metrics[3:5]}]},
    ]}


_HOSTILE = {"logs": _hostile_logs_env, "traces": _hostile_traces_env}
_TABLES = ["logs", "traces", "metrics_gauge", "metrics_sum",
           "metrics_histogram", "metrics_exp_histogram"]


def _hostile_pb(tmp_path, key):
    p = tmp_path / f"hostile_{key}.pb"
    p.write_bytes(encode_envelope_pb(_HOSTILE.get(key, _hostile_metrics_env)()))
    return p


def _jvm_control(spark, p, key):
    """The envelope plan + JVM flatten over the same file."""
    signal = flat_decode.FLATTENERS[key][1]
    return FLATTEN[key](_load_envelopes(spark, str(p), signal, "auto"))


@pytest.mark.parametrize("signal", _TABLES)
def test_flat_path_byte_identical_to_envelope_path(spark, tmp_path, signal):
    p = _hostile_pb(tmp_path, signal)

    flat = flat_decode.read_flat(spark, str(p), signal, "protobuf")
    control = _jvm_control(spark, p, signal)

    assert [f.name for f in flat.schema.fields] == \
        [f.name for f in control.schema.fields]
    assert [f.dataType for f in flat.schema.fields] == \
        [f.dataType for f in control.schema.fields]
    got, want = row_multiset(flat), row_multiset(control)
    assert got == want, (
        "\n".join(a + " != " + b for a, b in zip(got, want) if a != b))


@pytest.mark.parametrize("signal", _TABLES)
def test_reader_auto_mode_takes_flat_path(spark, tmp_path, signal):
    p = _hostile_pb(tmp_path, signal)
    df = READERS[signal](spark, str(p))   # auto: driver sniff -> flat
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "MapInArrow" in plan
    assert "Generate" not in plan          # no JVM explode
    assert "from_json" not in plan
    # and the rows match the envelope-plan control
    control = _jvm_control(spark, p, signal)
    assert row_multiset(df) == row_multiset(control)


def test_flat_path_timestamp_overflow_raises_same_contract(spark, tmp_path):
    env = {"resourceLogs": [{"scopeLogs": [{"logRecords": [
        {"timeUnixNano": "9223372036854775808"}]}]}]}   # i64::MAX + 1
    p = tmp_path / "overflow.pb"
    p.write_bytes(encode_envelope_pb(env))
    with pytest.raises(Exception, match="timestamp overflows int64 range"):
        read_otlp_logs(spark, str(p)).collect()
    # traces twin via start time
    envt = {"resourceSpans": [{"scopeSpans": [{"spans": [
        {"name": "x", "startTimeUnixNano": "18446744073709551615"}]}]}]}
    pt = tmp_path / "overflow_t.pb"
    pt.write_bytes(encode_envelope_pb(envt))
    with pytest.raises(Exception, match="timestamp overflows int64 range"):
        read_otlp_traces(spark, str(pt)).collect()


def test_mixed_glob_keeps_generic_plan(spark, tmp_path):
    """The driver sniff must refuse the fast path when any file under
    the glob is JSON — per-file FORMAT AUTO stays correct."""
    import json as _json

    env = _hostile_logs_env()
    (tmp_path / "a.pb").write_bytes(encode_envelope_pb(env))
    (tmp_path / "b.jsonl").write_text(_json.dumps(
        {"resourceLogs": [{"scopeLogs": [{"logRecords": [
            {"timeUnixNano": str(_NS), "severityNumber": 9}]}]}]}) + "\n")
    assert not flat_decode.all_protobuf(spark, str(tmp_path / "*"))
    df = read_otlp_logs(spark, str(tmp_path / "*"))
    n_pb = len(flatten_logs(
        _load_envelopes(spark, str(tmp_path / "a.pb"), "logs",
                        "auto")).collect())
    assert df.count() == n_pb + 1


def test_sniff_accepts_pb_dir_and_rejects_oversized(spark, tmp_path):
    env = _hostile_logs_env()
    for i in range(3):
        (tmp_path / f"f{i}.pb").write_bytes(encode_envelope_pb(env))
    assert flat_decode.all_protobuf(spark, str(tmp_path / "*.pb"))
    assert flat_decode.all_protobuf(spark, str(tmp_path))  # directory
    old = flat_decode.SNIFF_MAX_FILES
    try:
        flat_decode.SNIFF_MAX_FILES = 2
        assert not flat_decode.all_protobuf(spark, str(tmp_path / "*.pb"))
    finally:
        flat_decode.SNIFF_MAX_FILES = old


def test_java_double_twin_exact_zone(spark):
    """The Python double renderer matches Spark's cast-to-string for the
    zones flat_decode renders (integral < 9e15 handled by the 'N.0'
    branch; normal-range non-integrals by the Java-format shortest
    repr). Out-of-zone (|x| >= 9e15, subnormal) carries the documented
    digit-tail caveat and is NOT asserted here."""
    import random
    import struct

    from pyspark.sql import functions as F

    random.seed(20260818)
    vals = []
    while len(vals) < 4000:
        e = random.randint(1, 1023 + 53)     # normals below ~9e15
        b = (e << 52) | random.getrandbits(52)
        if random.random() < 0.5:
            b |= 1 << 63
        v = struct.unpack("<d", struct.pack("<Q", b))[0]
        if abs(v) < 9.0e15 and v == int(v):
            continue                          # integral branch, not cast
        vals.append(v)
    vals += [0.1, -0.1, 2.5e-5, 0.30000000000000004, 1e-3, 9.99e-4,
             123456.789, -999999.25]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, v double")
    rows = df.select("i", F.col("v").cast("string").alias("s")).collect()
    for r in rows:
        v = vals[r["i"]]
        assert flat_decode._java_double_str(v) == r["s"], (v, r["s"])


def test_jackson_escape_twin(spark):
    """_jstr matches Spark's to_json rendering for every escape class
    the fast-path regex routes to the escaping branch."""
    from pyspark.sql import functions as F

    strs = ['say "hi"', "back\\slash", "tab\tnl\ncr\rff\fbs\b",
            "\x00\x01\x1f", "mixed \"q\" and \x02", "héllo ✓ \U0001F600",
            "del\x7fchar", "plain ascii"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)],
                               "i long, s string")
    j = F.to_json(F.struct(F.col("s").alias("v")))
    rendered = F.substring(j, 6, 2_000_000)
    rows = df.select("i", rendered.alias("r")).collect()
    for r in rows:
        s = strs[r["i"]]
        want = r["r"][:-1]        # strip the trailing '}'
        assert flat_decode._jstr(s) == want, (s, want, flat_decode._jstr(s))


def test_integer_text_twins_match_spark_try_cast(spark):
    """_try_long and _try_dec38 read integer text as Spark's
    try_cast(string AS bigint) and try_cast(string AS decimal(38,0)) do:
    trimming, signs, fractions, exponents, Unicode digits, the int64 and
    38-digit edges, and texts past int()'s 4,300-digit limit."""
    from pyspark.sql import functions as F

    texts = ["5", " 5", "5 ", "\t5\n", "\x7f5", "\x1c5", "\xa05", "\u20035",
             "+5", "-5", "+", "-", "", " ", "2.0", "2.5", "-2.5", "1e3", "1E3",
             "1.5e2", ".5", "5.", "-.5", "2.", " 2.0", "3.99", "-3.99", "0x10",
             "1_000", "007", "-0", "++5", "5-", "1.5.2", "1e", "e5", "1e+5",
             "1e-5", "1\x00", "NaN", "Infinity", "\u0661\u0662\u0663",
             "9223372036854775807", "9223372036854775808",
             "-9223372036854775808", "-9223372036854775809",
             "0" * 30 + "5", "1" * 25, "-" + "1" * 25, "1" * 38, "1" * 39,
             "9" * 38 + ".5", "9" * 37 + ".5", "12345678901234567890.5",
             "0e37", "0e38", "1e2147483648", "1e-2147483648",
             "0" * 5000 + "1", "1" * 5000, "-" + "0" * 5000 + "7"]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, s string")
    rows = df.select("i", F.col("s").try_cast("long").alias("l"),
                     F.col("s").try_cast("decimal(38,0)").alias("d")).collect()
    for r in rows:
        s = texts[r["i"]]
        d = None if r["d"] is None else int(r["d"])
        assert (flat_decode._try_long(s), flat_decode._try_dec38(s)) == \
            (r["l"], d), repr(s[:40])


# ---------------------------------------------------------------------------
# Seal corpora: spooled JSON lines the seal's strict parse takes, and lines
# it refuses to the lax from_json parse (envelopes_from_lines); the oracle
# is the JVM flatten over envelopes_from_lines of every line.
# ---------------------------------------------------------------------------

def _log_line(*records, resource=None, scope=None):
    rl = {"scopeLogs": [{"logRecords": list(records)}]}
    if resource is not None:
        rl["resource"] = resource
    if scope is not None:
        rl["scopeLogs"][0]["scope"] = scope
    return json.dumps({"resourceLogs": [rl]})


def _span_line(*spans):
    return json.dumps({"resourceSpans": [{"scopeSpans": [
        {"scope": {"name": "t"}, "spans": list(spans)}]}]})


def _metric_line(*metrics):
    return json.dumps({"resourceMetrics": [{
        "resource": {"attributes": [_kv("service.name",
                                        {"stringValue": "m"})]},
        "scopeMetrics": [{"scope": {"name": "m"}, "metrics": list(metrics)}]}]})


_DEEP_ANY = {"kvlistValue": {"values": [{"key": "a", "value": {
    "arrayValue": {"values": [{"kvlistValue": {"values": [
        {"key": "b", "value": {"arrayValue": {"values": [
            {"stringValue": "past the depth cutoff"}]}}}]}}]}}}]}}

# Lines the strict parse takes and the flattener flattens (none refused).
_FLAT_LINES = {
    "logs": [json.dumps(e) for e in
             reader_gate.LOGS_ENVELOPES + fx.LOGS_SIMPLE + fx.LOGS_NULLS
             + [fx.LOGS_DOCUMENT] + fx.TS_BOUNDARY_LOGS
             + [_hostile_logs_env()]] + [
        # escaped control characters everywhere strings go
        _log_line({"timeUnixNano": str(_NS), "severityText": "a\u0001b\tc",
                   "body": {"stringValue": "l1\nl2\u001f\"q\"\\"},
                   "attributes": [_kv("k\u0002", {"stringValue": "\u0007"})]}),
        # severity names, number-or-string int64s, ints in doubles
        _log_line({"timeUnixNano": _NS, "severityNumber": "SEVERITY_NUMBER_WARN",
                   "observedTimeUnixNano": str(_NS + 5),
                   "flags": "1", "droppedAttributesCount": 7,
                   "body": {"doubleValue": 5},
                   "attributes": [_kv("i", {"intValue": 12}),
                                  _kv("s", {"intValue": "-0"}),
                                  _kv("z", {"intValue": "007"}),
                                  _kv("big", {"intValue": "99999999999999999999"}),
                                  _kv("d", {"doubleValue": 3})]},
                  {"timeUnixNano": "-5", "severityNumber": "SEVERITY_NUMBER_ERROR2",
                   "body": {"boolValue": False}},
                  {"timeUnixNano": str(_NS + 1),
                   "severityNumber": "SEVERITY_NUMBER_FATAL4"}),
        # empty and uppercase ids, nesting past depth 3, explicit nulls
        _log_line({"timeUnixNano": str(_NS + 2), "traceId": "",
                   "spanId": "ABCDEF0123456789", "body": _DEEP_ANY,
                   "attributes": None, "severityText": None},
                  resource=None, scope=None),
        # non-string tokens in string fields, unknown keys, duplicates,
        # a lone NULL key, non-ASCII text
        '{"resourceLogs":[{"scopeLogs":[{"logRecords":[{"timeUnixNano":'
        '"1713000000000000003","severityText":42,"eventName":true,'
        '"unknown":{"x":[1,2]},"flags":"2","flags":"3","body":'
        '{"stringValue":"first","stringValue":"héllo ✓"},'
        '"attributes":[{"key":null,"value":{"stringValue":"v"}}]}]}]}]}',
        "  " + _log_line({"timeUnixNano": str(_NS + 9)}) + "  ",
        # keys match case-sensitively; a duplicate's last value wins even
        # when an earlier one would not convert
        '{"resourceLogs":[{"scopeLogs":[{"logRecords":[{"TimeUnixNano":"5",'
        '"timeUnixNano":"6","body":{"doubleValue":"abc","doubleValue":1.5}}'
        ']}]}]}',
        # lines only the flatteners refused before they became total over
        # the from_json domain: unknown enum names, non-canonical integers,
        # out-of-zone doubles, NULL keys, NULL list elements, non-ASCII ids
        _log_line({"timeUnixNano": str(_NS), "severityNumber": "SEVERITY_X"}),
        _log_line({"timeUnixNano": str(_NS), "flags": " 5"}),
        _log_line({"timeUnixNano": "+5"}),
        _log_line({"timeUnixNano": "1e3"}),
        _log_line({"timeUnixNano": str(_NS), "attributes": [
            _kv("big", {"doubleValue": 1.2345678901234567e17})]}),
        _log_line({"timeUnixNano": str(_NS), "attributes": [
            _kv("sub", {"doubleValue": 5e-324})]}),
        _log_line({"timeUnixNano": str(_NS), "attributes": [
            {"value": {"stringValue": "a"}}, _kv("b", {"stringValue": "c"})]}),
        _log_line({"timeUnixNano": str(_NS), "attributes": [None]}),
        _log_line(None),
        _log_line({"timeUnixNano": str(_NS), "traceId": "ÄB"}),
    ],
    "traces": [json.dumps(e) for e in
               reader_gate.TRACES_ENVELOPES + fx.TRACES_SIMPLE
               + fx.TRACES_NULLS + fx.SINGLE_TRACE
               + [_hostile_traces_env()]] + [
        _span_line({"traceId": "AB", "spanId": "", "name": "enum",
                    "kind": "SPAN_KIND_SERVER",
                    "status": {"code": "STATUS_CODE_ERROR", "message": "m"},
                    "startTimeUnixNano": _NS, "endTimeUnixNano": str(_NS + 7),
                    "droppedEventsCount": "2", "flags": 3000000000,
                    "events": [{"timeUnixNano": _NS, "name": "e\u0003",
                                "droppedAttributesCount": "9"},
                               {"name": "no-time", "timeUnixNano": "1" * 25}],
                    "links": [{"traceId": "CD", "spanId": "EF",
                               "traceState": "a=\"b\"",
                               "attributes": [_kv("x", {"doubleValue": 1.5})]}]},
                   {"name": "only-end", "endTimeUnixNano": "100",
                    "kind": "SPAN_KIND_CONSUMER", "status": None},
                   {"name": "negative", "startTimeUnixNano": "-100",
                    "endTimeUnixNano": "-300"}),
        _span_line({"name": "k", "kind": "SPAN_KIND_BOGUS"}),
        _span_line({"name": "ev", "events": [None]}),
        _span_line({"name": "c", "status": {"code": "2.0"}}),
    ],
    "metrics": [json.dumps(e) for e in
                reader_gate.METRICS_ENVELOPES + fx.METRICS_SIMPLE
                + fx.METRICS_ALL_TYPES + fx.METRICS_SUMMARY_ONLY
                + fx.METRICS_TEMPORALITY_STRINGS] + [
        _metric_line(
            {"name": "g", "gauge": {"dataPoints": [
                {"timeUnixNano": _NS, "asDouble": 7, "flags": "1",
                 "exemplars": [{"timeUnixNano": str(_NS), "asInt": 3,
                                "spanId": "AA", "traceId": ""},
                               {"asDouble": 2.25},
                               {"timeUnixNano": "x1"[1:], "asInt": "1" * 25}]},
                {"timeUnixNano": str(_NS), "asInt": "99999999999999999999"}]}},
            {"name": "s", "sum": {"dataPoints": [
                {"timeUnixNano": str(_NS), "asInt": 5}],
                "aggregationTemporality": "AGGREGATION_TEMPORALITY_CUMULATIVE",
                "isMonotonic": True}},
            {"name": "s2", "sum": {"dataPoints": [
                {"timeUnixNano": str(_NS), "asDouble": 0.5}]}},
            {"name": "h", "histogram": {"dataPoints": [
                {"timeUnixNano": str(_NS), "count": 3, "sum": 6, "min": 1,
                 "max": 4, "bucketCounts": [1, "2", None],
                 "explicitBounds": [1, 2.5], "exemplars": []},
                {"timeUnixNano": str(_NS), "bucketCounts": [],
                 "explicitBounds": []},
                {"timeUnixNano": str(_NS)}],
                "aggregationTemporality": "AGGREGATION_TEMPORALITY_DELTA"}},
            {"name": "e", "exponentialHistogram": {"dataPoints": [
                {"timeUnixNano": str(_NS), "scale": "-3", "count": "4",
                 "positive": {"offset": "-2", "bucketCounts": []},
                 "zeroThreshold": 0},
                {"timeUnixNano": str(_NS), "positive": {},
                 "negative": {"bucketCounts": [5, "6"]}, "zeroCount": 2}]}},
            {"name": "both", "gauge": {"dataPoints": [
                {"timeUnixNano": str(_NS), "asDouble": 1.0}]},
             "sum": {"dataPoints": [{"timeUnixNano": str(_NS), "asInt": "1"}]}},
            {"name": "empty-shape", "gauge": {}}),
        _metric_line({"name": "t", "sum": {"dataPoints": [],
                                           "aggregationTemporality": "X"}}),
        _metric_line({"name": "b", "histogram": {"dataPoints": [
            {"timeUnixNano": str(_NS), "bucketCounts": ["1.5"]}]}}),
        _metric_line({"name": "x", "gauge": {"dataPoints": [
            {"timeUnixNano": str(_NS), "exemplars": [
                {"asDouble": 1e300}]}]}}),
        _metric_line(None),
    ],
}

# Lines the strict parse must refuse: the lax from_json parse handles them.
_REFUSED_LINES = {
    "logs": [
        '{"resourceLogs": [',                        # truncated body
        '{"resourceLogs":"x"}',                      # mistyped spine
        '{"resourceLogs":null}', "{}", "[]", "not json",
        _log_line({"timeUnixNano": str(_NS), "body": {"doubleValue": 1.0}})
        .replace("1.0", "NaN"),                      # NaN token
        _log_line({"timeUnixNano": str(_NS), "severityText": 1.5}),
        _log_line({"timeUnixNano": str(_NS), "severityText": {"a": 1}}),
        _log_line({"timeUnixNano": str(_NS), "body": {"boolValue": "true"}}),
        _log_line({"timeUnixNano": str(_NS),
                   "body": {"stringValue": "😀"}}),
        _log_line({"timeUnixNano": str(_NS), "body": {"stringValue": "\ud800"}}),
        _log_line({"timeUnixNano": str(_NS), "severityText": 7})
        .replace("7", "1" * 1001),                   # Jackson number cap
        _log_line({"timeUnixNano": str(_NS), "k" * 50_001: 1}),  # name cap
        _log_line({"timeUnixNano": str(_NS), "zz": 0})
        .replace("0", "[" * 1100 + "]" * 1100),      # nesting cap
        _log_line({"timeUnixNano": str(_NS)}) + " trailing",
        "\t",
    ],
    "traces": [
        '{"resourceSpans":[{"scopeSpans":[{"spans":[{"name":"x"}]}]}',
        '{"resourceSpans":5}', "not json",
    ],
    "metrics": [
        _metric_line({"name": "n", "gauge": {"dataPoints": [
            {"timeUnixNano": str(_NS), "asDouble": 1.0}]}})
        .replace("1.0", "Infinity"),
        _metric_line({"name": "o", "gauge": {"dataPoints": [
            {"timeUnixNano": str(_NS), "asDouble": 1}]}})
        .replace('"asDouble": 1', '"asDouble": ' + "1" * 400),
        "{}", '{"resourceMetrics": [',
    ],
}


# The two out-of-zone doubles (big, sub) render with the shortest
# round-trip digits, which may differ from the JVM's in the last digits
# (flat_decode's documented divergence): their rows compare by value.
_BY_VALUE = ('{"big":', '{"sub":')


def _value_multiset(df) -> list[str]:
    """``row_multiset`` with JSON text that starts with a ``_BY_VALUE``
    key parsed."""
    return sorted(repr(tuple(
        json.loads(v) if isinstance(v, str) and v.startswith(_BY_VALUE) else v
        for v in r)) for r in df.collect())


def _lines_df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


# ---------------------------------------------------------------------------
# The seal route on real (unstarted) servers: one staging job parses and
# flattens every line (flat_decode.seal_files); the default parquet sink
# publishes the staged files, the catalog sink and seal-time columns let
# Spark rewrite them. Every config is checked against the lax JVM route
# over the same lines: the same rows, schema, partition dirs and
# seal_malformed_lines.
# ---------------------------------------------------------------------------

_CONFIGS = {
    "default": {},
    "catalog": {"sink": "catalog", "iceberg_export": False},
    "promote_resource": {"promote_resource": ["service.name"]},
}


def _unstarted_server(spark, work, **params):
    from duckdb_otlp_spark.streaming.server import OtlpSparkServer

    srv = OtlpSparkServer(spark, "otlp://127.0.0.1:0", work_dir=str(work),
                          disable_auth=True, warm_start=False, **params)
    srv._ensure_target_tables()
    return srv


def _spooled_server(spark, work, signal, lines, **params):
    srv = _unstarted_server(spark, work, **params)
    seg = srv.spool_dir / signal / "seg_test.jsonl"
    seg.parent.mkdir(parents=True, exist_ok=True)
    seg.write_bytes(b"".join(ln.encode() + b"\n" for ln in lines))
    return srv


def _seal(spark, work, signal, lines, **params):
    srv = _spooled_server(spark, work, signal, lines, **params)
    srv._seal(signal)
    assert not list((srv.spool_dir / signal).iterdir())
    assert not list(srv.export_root.glob(".seal-*"))
    return srv


def _sealed_flat(srv, table, control):
    """``table`` as sealed, restricted to ``control``'s flat columns,
    after checking that the read-back has them with equal types in
    order."""
    got = srv.read_table(table)
    flat = [(f.name, f.dataType) for f in got.schema.fields
            if f.name in control.columns]
    assert flat == [(f.name, f.dataType) for f in control.schema.fields], table
    return got.select(*control.columns)


def _leaf_dirs(root):
    return sorted(str(p.parent.relative_to(root)) for p in root.rglob("*.parquet"))


def _control_leaves(table, control):
    """Spark's year=/month=/day= leaves of ``control``'s rows."""
    from pyspark.sql import functions as F

    from duckdb_otlp_spark.schemas import partition_ts

    ts = F.col(partition_ts(table))
    null = "__HIVE_DEFAULT_PARTITION__"
    return {"/".join(f"{k}={null if v is None else v}" for k, v in
                     zip(("year", "month", "day"), r))
            for r in control.select(F.date_format(ts, "yyyy"),
                                    F.date_format(ts, "MM"),
                                    F.date_format(ts, "dd")).collect()}


@pytest.mark.parametrize("signal", ["logs", "traces", "metrics"])
def test_seal_route_matches_lax_jvm_route(spark, tmp_path, signal):
    flat_lines, refused = _FLAT_LINES[signal], _REFUSED_LINES[signal]
    lines = flat_lines + refused + [" ", ""]
    # the one parse loop refuses exactly the lines outside its domain and
    # takes every other one, filling every table (the parity below is
    # not vacuous)
    keys = flat_decode.SEAL_TABLES[signal]
    got_refused, filled = [], set()
    for rows, out in flat_decode.seal_slices(
            (ln.encode() for ln in lines), signal):
        got_refused += out
        filled |= {k for k, r in zip(keys, rows) if r}
    assert sorted(r.decode() for r in got_refused) == sorted(refused)
    assert filled == set(keys)
    srv = _seal(spark, tmp_path, signal, lines)
    control_env = envelopes_from_lines(_lines_df(spark, lines), signal)
    for key in keys:
        control = FLATTEN[key](control_env)
        # equal row multisets, compared driver-side: an exceptAll plan
        # carries the JVM flatten's expression trees several times over
        # and grew the test JVM's heap by gigabytes
        got = _sealed_flat(srv, TARGET_TABLES[key], control)
        assert _value_multiset(got) == _value_multiset(control), key


@pytest.mark.parametrize("signal", ["logs", "traces", "metrics"])
def test_seal_route_counts_the_same_malformed_lines(spark, tmp_path, signal):
    lines = _FLAT_LINES[signal] + _REFUSED_LINES[signal]
    want = Observation()
    key = flat_decode.SEAL_TABLES[signal][0]
    FLATTEN[key](envelopes_from_lines(_lines_df(spark, lines), signal,
                                      drop_observation=want)).count()
    srv = _seal(spark, tmp_path, signal, lines)
    assert srv.seal_malformed_total == want.get["malformed"] > 0


@pytest.mark.parametrize("signal,line,text", [
    ("logs", _log_line({"timeUnixNano": "9223372036854775808",
                        "body": {"stringValue": "x"}}),
     "OTLP parse error: timestamp overflows int64 range: "
     "9223372036854775808"),
    ("traces", _span_line({"name": "x", "endTimeUnixNano": "1",
                           "startTimeUnixNano": "18446744073709551615"}),
     "OTLP parse error: timestamp overflows int64 range: "
     "18446744073709551615"),
    ("traces", _span_line({"name": "d",
                           "startTimeUnixNano": "-9223372036854775808",
                           "endTimeUnixNano": "9223372036854775807"}),
     "ARITHMETIC_OVERFLOW"),
])
def test_seal_route_raises_the_same_error(spark, tmp_path, signal, line, text):
    lines = [_FLAT_LINES[signal][0], line]
    with pytest.raises(Exception, match=text):
        FLATTEN[signal](envelopes_from_lines(_lines_df(spark, lines),
                                             signal)).collect()
    srv = _spooled_server(spark, tmp_path, signal, lines)
    with pytest.raises(Exception, match=text):
        srv._seal(signal)
    # the failed seal leaves its segment for the replay
    assert [p.name for p in (srv.spool_dir / signal).iterdir()] == \
        ["seg_test.jsonl"]
    assert srv.seal_failures_total >= 1


def test_seal_route_plan_has_no_jvm_flatten(spark, tmp_path, monkeypatch):
    """A seal of lines the flattener takes never builds the lax JVM
    plan, on every config."""
    from duckdb_otlp_spark.streaming import server

    def spy(*args, **kwargs):
        raise AssertionError("envelopes_from_lines called")

    monkeypatch.setattr(server, "envelopes_from_lines", spy)
    for config, params in _CONFIGS.items():
        for signal in ("logs", "traces", "metrics"):
            srv = _seal(spark, tmp_path / config / signal, signal,
                        _FLAT_LINES[signal], **params)
            assert srv.seal_failures_total == 0, (config, signal)
            assert srv.sealed_rows_total > 0, (config, signal)


# the default config keeps the bare signal ids
@pytest.mark.parametrize("signal,config", [
    pytest.param(signal, config,
                 id=signal if config == "default" else f"{signal}-{config}")
    for config in _CONFIGS for signal in ("logs", "traces", "metrics")])
def test_executor_seal_matches_jvm_route(spark, tmp_path, signal, config):
    lines = _FLAT_LINES[signal] + _REFUSED_LINES[signal] + [" ", ""]
    srv = _seal(spark, tmp_path, signal, lines, **_CONFIGS[config])
    malformed = Observation()
    control_env = envelopes_from_lines(_lines_df(spark, lines), signal,
                                       drop_observation=malformed).persist()
    try:
        total = 0
        tables = []
        for key in flat_decode.SEAL_TABLES[signal]:
            table = TARGET_TABLES[key]
            tables.append(table)
            control = FLATTEN[key](control_env)
            want = _value_multiset(control)
            assert _value_multiset(_sealed_flat(srv, table, control)) == want, table
            total += len(want)
            if srv.catalog is None:
                assert set(_leaf_dirs(srv.export_root / table)) == \
                    _control_leaves(table, control), table
        assert srv.seal_malformed_total == malformed.get["malformed"] > 0
        assert srv.sealed_rows_total == total
    finally:
        control_env.unpersist()
    # one otlp_seal_list row per table from the staged rows; the parquet
    # sink adds one more per table from the refused lines' JVM pass, the
    # catalog sink commits both in the one snapshot
    passes = 1 if srv.catalog is not None else 2
    assert [(e.table, e.status) for e in srv.seal_history] == \
        [(t, "ok") for t in tables] * passes


def test_executor_seal_partition_dirs(spark, tmp_path):
    """year=/month=/day= leaves equal Spark's date_format over
    TIMESTAMP_NTZ, whether the staged files are published (default) or
    rewritten by Spark (promote_resource): NULL ->
    __HIVE_DEFAULT_PARTITION__, pre-1970 microseconds floor into the day
    before the epoch, and a day's last microsecond stays in that day."""
    day_ns = 86_400_000_000_000
    lines = [_log_line({"body": {"stringValue": "no time"}}),
             _log_line({"timeUnixNano": "-5"}),
             _log_line({"timeUnixNano": str(-day_ns - 1000)}),
             _log_line({"timeUnixNano": str(day_ns - 1000)},
                       {"timeUnixNano": str(day_ns)}),
             _log_line({"timeUnixNano": str(_NS)})]
    null = "__HIVE_DEFAULT_PARTITION__"
    want = sorted({f"year={null}/month={null}/day={null}",
                   "year=1969/month=12/day=31", "year=1969/month=12/day=30",
                   "year=1970/month=01/day=01", "year=1970/month=01/day=02",
                   "year=2024/month=04/day=13"})
    control = flatten_logs(envelopes_from_lines(_lines_df(spark, lines), "logs"))
    for config in ("default", "promote_resource"):
        srv = _seal(spark, tmp_path / config, "logs", lines, **_CONFIGS[config])
        assert sorted(set(_leaf_dirs(srv.export_root / "otlp_logs"))) == \
            want, config
        assert row_multiset(_sealed_flat(srv, "otlp_logs", control)) == \
            row_multiset(control), config


def test_seal_files_streams_one_slice_at_a_time(tmp_path):
    """A segment group larger than one slice is written as several row
    groups of one file per leaf, so the task holds one slice at a time;
    zstd is the codec."""
    import pyarrow.parquet as pq

    from duckdb_otlp_spark.sources.otlp_json import MAX_ENVELOPE_SLICE_RECORDS

    per_line = 1000
    n_lines = 2 * MAX_ENVELOPE_SLICE_RECORDS // per_line + 2
    seg = tmp_path / "seg_a.jsonl"
    seg.write_text("".join(
        _log_line(*({"timeUnixNano": str(_NS + i)} for i in range(per_line)))
        + "\n" for _ in range(n_lines)))
    out = flat_decode.seal_files([str(seg)], "logs", str(tmp_path / "stage"),
                                 "zstd")
    assert out["refused"] == 0
    [(table, rel, rows)] = out["files"]
    assert table == "otlp_logs" and rows == n_lines * per_line
    meta = pq.ParquetFile(tmp_path / "stage" / table / rel).metadata
    assert meta.num_rows == rows and meta.num_row_groups >= 2
    assert meta.row_group(0).column(0).compression == "ZSTD"


# ---------------------------------------------------------------------------
# JSON reads: from_json parses, flat_decode.flatten_parsed flattens.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mode", ["auto", "lines"])
@pytest.mark.parametrize("key,line", [
    pytest.param("logs", _log_line({"timeUnixNano": str(_NS),
                                    "attributes": [None]}), id="null-attribute"),
    pytest.param("traces", _span_line({"name": "ev", "events": [None]}),
                 id="null-event"),
    pytest.param("logs", _log_line({"timeUnixNano": str(_NS), "flags": " 5"}),
                 id="spaced-flags"),
    pytest.param("logs", _log_line({"timeUnixNano": "1e3"}), id="exponent-time"),
    pytest.param("traces", _span_line({"name": "c", "status": {"code": "2.0"}}),
                 id="fractional-status"),
])
def test_json_read_matches_jvm_flatten(spark, tmp_path, key, line, mode):
    p = tmp_path / "in.jsonl"
    p.write_text(line + "\n")
    got = READERS[key](spark, str(p), mode=mode)
    want = FLATTEN[key](_load_envelopes(spark, str(p), key, mode))
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in want.schema.fields]
    assert row_multiset(got) == row_multiset(want)


@pytest.mark.parametrize("signal", ["logs", "traces", "metrics"])
def test_json_read_of_the_seal_corpus_matches_jvm_flatten(spark, tmp_path,
                                                          signal):
    """Every line the seal's strict parse takes, read as one NDJSON file:
    each table equals the JVM flatten over the same parsed envelopes.
    The file readers raise on one line (a failed conversion flags it
    corrupt, and its repeated key fails the JSON re-check), so it is
    left out."""
    p = tmp_path / f"{signal}.jsonl"
    p.write_text("".join(ln + "\n" for ln in _FLAT_LINES[signal]
                         if '"doubleValue":"abc"' not in ln))
    for key in flat_decode.SEAL_TABLES[signal]:
        got = READERS[key](spark, str(p), mode="lines")
        want = FLATTEN[key](_load_envelopes(spark, str(p), signal, "lines"))
        assert _value_multiset(got) == _value_multiset(want), key
