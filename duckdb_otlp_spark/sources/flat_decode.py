"""Executor-side flatten: OTLP envelopes -> FINAL flat rows, in Python.

One flattener per table (logs, traces, and the four metric shapes), the
program's only flattener. Every route hands it envelope dicts:

- file reads through one per-file decode (``decode_file``): the
  protobuf reads of all six ``read_otlp_*`` tables and the six
  ``read_otap_*`` readers (both via ``read_flat``, one ``mapInArrow``),
  and ``spark.read.format("otlp"/"otap")`` (``sources/datasource.py``).
  The wire or OTAP decode and the flatten run in one pass. Measured on
  the 1M-record/32-file pb bench corpus at local[32] (r14): 5.0-5.6 s
  via the old envelope + JVM flatten route, 1.5-1.75 s here;
- JSON and NDJSON reads through ``read_otlp_*`` and the seal's refused
  lines (``flatten_parsed``): the JVM's lax ``from_json`` stays the
  parser, and its parsed envelopes reach the flattener as ``to_json``
  text in one ``mapInArrow``;
- the live server's seal, through one parse loop (``seal_slices``):
  each spooled JSON request line goes ``json.loads`` ->
  ``otlp_json._conform_to_schema(strict=True)`` -> flattener. A line
  the strict parse refuses (malformed JSON, NaN tokens, off-schema
  shapes) is kept verbatim and the seal parses the refused lines with
  ``envelopes_from_lines`` (lax ``from_json``) before
  ``flatten_parsed``, so sealed rows and ``seal_malformed_lines`` are
  the file readers'. Every server config seals through ``seal_files``,
  which writes the rows as partitioned parquet inside the Python task;
  the parquet sink's default config publishes those files as they are,
  while the catalog sink and the seal-time columns have Spark read them
  back and write.

Semantics: the flatteners are total over the envelopes ``from_json``
yields, with the JVM semantics the retired expression flatten had
(tests/jvm_flatten.py keeps it as the tests' oracle): Spark's
``try_cast(string AS bigint)`` for every integer field and int32
windows on top (try_cast long -> try_cast int -> default), enum names
(``SPAN_KIND_*``, ``STATUS_CODE_*``, ``AGGREGATION_TEMPORALITY_*``,
``SEVERITY_NUMBER_*``), ns->µs floor division with the
``decimal(38,0)`` fallback and error texts of the timestamp parse,
lowercase ids with ''->NULL, canonical sorted-key attrs JSON with
Jackson-twin string escaping, NULL list elements rendered as the JVM
renders them, Java-format double rendering, the AnyValue depth-3
cutoff, and the stringValue-first body CASE order.

Documented divergences, on every route: non-"N.0" doubles outside the
proven-exact zone — |x| >= 9e15 rendered via Double.toString, and
subnormals — may differ from JDK 17's FloatingDecimal in the LAST
DIGITS of the rendered JSON number (this module emits the shortest
round-trip digits in Java's format); both forms parse back to the
identical double. An attribute list of 32 or more entries holding a
NULL key or element may order differently: the JVM comparator ranks
NULL equal to every key, so its order depends on the sort algorithm,
which this module follows only below 32 entries. A span duration that
overflows int64, or a timestamp below the int64 range, raises on every
read of its row, ``count()`` included; the JVM flatten raised only when
that column was selected.
"""

from __future__ import annotations

import json
import math
import re
from decimal import ROUND_HALF_UP, Decimal
from functools import cmp_to_key
from operator import itemgetter

from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_otlp_spark import schemas as _schemas
from duckdb_otlp_spark.sources.otlp_json import (
    _ANY_VALUE_DEPTH,
    _ENVELOPES,
    MAX_ENVELOPE_SLICE_RECORDS,
    MAX_READ_FILE_BYTES,
    _conform_to_schema,
    _is_ndjson,
    slice_envelope,
)

_I64_MAX = 9223372036854775807
_I32_MIN, _I32_MAX = -(1 << 31), (1 << 31) - 1
_I64_MIN = -(1 << 63)

# the characters Jackson escapes in a JSON string
_NEEDS_ESCAPE = re.compile(r'["\\\x00-\x1f]')

_ENUM_MAPS = {
    "kind": {"SPAN_KIND_UNSPECIFIED": 0, "SPAN_KIND_INTERNAL": 1, "SPAN_KIND_SERVER": 2,
             "SPAN_KIND_CLIENT": 3, "SPAN_KIND_PRODUCER": 4, "SPAN_KIND_CONSUMER": 5},
    "status_code": {"STATUS_CODE_UNSET": 0, "STATUS_CODE_OK": 1, "STATUS_CODE_ERROR": 2},
    "temporality": {"AGGREGATION_TEMPORALITY_UNSPECIFIED": 0,
                    "AGGREGATION_TEMPORALITY_DELTA": 1,
                    "AGGREGATION_TEMPORALITY_CUMULATIVE": 2},
}

_SEVERITY_NAMES = {
    f"SEVERITY_NUMBER_{name}{n}" if n else f"SEVERITY_NUMBER_{name}": base + (n or 1) - 1
    for name, base in (("TRACE", 1), ("DEBUG", 5), ("INFO", 9), ("WARN", 13),
                       ("ERROR", 17), ("FATAL", 21))
    for n in (0, 2, 3, 4)
}

_KINDS = _ENUM_MAPS["kind"]
_STATUS_CODES = _ENUM_MAPS["status_code"]
_TEMPORALITIES = _ENUM_MAPS["temporality"]

# a NULL list element reads like an element whose fields are all NULL
_NO_FIELDS: dict = {}


# ---------------------------------------------------------------------------
# JVM-exact leaf renderers
# ---------------------------------------------------------------------------

# Jackson's default escaping: the short escapes plus \u00XX with
# UPPERCASE hex for remaining control characters; non-ASCII kept raw.
_ESCAPE_TABLE = {
    ord('"'): '\\"', ord("\\"): "\\\\", 0x08: "\\b", 0x09: "\\t",
    0x0A: "\\n", 0x0C: "\\f", 0x0D: "\\r",
    **{c: "\\u%04X" % c for c in range(0x20)
       if c not in (0x08, 0x09, 0x0A, 0x0C, 0x0D)},
}


def _jstr(s) -> str:
    """JSON string literal: NULL -> 'null'; plain strings concat-quoted;
    strings needing escapes take the Jackson-twin table (pinned against
    to_json by the parity suite)."""
    if s is None:
        return "null"
    if _NEEDS_ESCAPE.search(s):
        return '"' + s.translate(_ESCAPE_TABLE) + '"'
    return '"' + s + '"'


def _jdouble(x) -> str:
    """Double as JSON: null/NaN -> 'null'; integral |x| < 9e15 -> 'N.0';
    else Double.toString (Java formatting over the shortest round-trip
    digits, see the module docstring)."""
    if x is None or x != x:
        return "null"
    if abs(x) < 9.0e15 and x == int(x):
        return str(int(x)) + ".0"
    return _java_double_str(x)


def _java_double_str(x: float) -> str:
    if x == math.inf:
        return "Infinity"
    if x == -math.inf:
        return "-Infinity"
    r = repr(abs(x))
    if "e" in r:
        m, _, e = r.partition("e")
        e10 = int(e)
    else:
        m, e10 = r, 0
    ip, _, fp = m.partition(".")
    if ip != "0":
        exp10 = len(ip) - 1 + e10
    else:
        lead = len(fp) - len(fp.lstrip("0"))
        exp10 = -lead - 1 + e10
    digits = (ip + fp).lstrip("0").rstrip("0") or "0"
    if digits == "0":
        exp10 = 0
    sign = "-" if (x < 0 or (x == 0 and math.copysign(1, x) < 0)) else ""
    if -3 <= exp10 < 7:
        if exp10 >= 0:
            ipart = digits[: exp10 + 1].ljust(exp10 + 1, "0")
            fpart = digits[exp10 + 1:] or "0"
            return f"{sign}{ipart}.{fpart}"
        return f"{sign}0.{'0' * (-exp10 - 1)}{digits}"
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{exp10}"


# UTF8String.toLong trims bytes that are whitespace or ISO controls
# (0x00-0x20, 0x7F), then takes a sign and ASCII digits, no fraction
_LONG_TRIM = "".join(map(chr, range(0x21))) + "\x7f"
_LONG_TEXT = re.compile(r"([+-]?)0*([0-9]+)")
# java.math.BigDecimal over String.trim (chars <= U+0020): Unicode
# decimal digits, an optional fraction and an int-range exponent
_DEC_TRIM = "".join(map(chr, range(0x21)))
_DEC_TEXT = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?0*(\d+))?")


def _try_long(s):
    """try_cast(string AS bigint) twin; NULL when Spark's is. Canonical
    short digit strings take the fast path; every other text is decided
    by its significant-digit count before ``int()`` sees it."""
    if s is None:
        return None
    if len(s) <= 19 and s.isdigit() and s.isascii():
        v = int(s)
        return v if v <= _I64_MAX else None
    m = _LONG_TEXT.fullmatch(s.strip(_LONG_TRIM))
    if m is None or len(m[2]) > 19:
        return None
    v = -int(m[2]) if m[1] == "-" else int(m[2])
    return v if _I64_MIN <= v <= _I64_MAX else None


def _try_dec38(s):
    """try_cast(string AS decimal(38,0)) twin as an int: ROUND_HALF_UP
    to an integer, NULL past 38 digits or for an exponent outside int
    range."""
    m = _DEC_TEXT.fullmatch(s.strip(_DEC_TRIM))
    if m is None:
        return None
    if m[1] is not None and (len(m[1]) > 10 or int(m[1]) > 2147483647):
        return None
    d = Decimal(m[0])
    if d.adjusted() >= 38:
        return None
    v = int(d.to_integral_value(ROUND_HALF_UP))
    return v if abs(v) < 10 ** 38 else None


def _jint_text(s) -> str:
    """intValue render twin: coalesce(try_cast(long) as string, quoted)."""
    v = _try_long(s)
    return _jstr(s) if v is None else str(v)


def _long_text_or(s, default: str) -> str:
    """events/links/exemplars JSON: coalesce(try_cast(long) as string,
    default)."""
    v = _try_long(s)
    return default if v is None else str(v)


def _jany(v, depth: int) -> str:
    """AnyValue as JSON value text — the JVM CASE order and depth
    cutoff."""
    if v is None:
        return "null"
    s = v.get("stringValue")
    if s is not None:
        return _jstr(s)
    b = v.get("boolValue")
    if b is not None:
        return "true" if b else "false"
    i = v.get("intValue")
    if i is not None:
        return _jint_text(i)
    d = v.get("doubleValue")
    if d is not None:
        return _jdouble(d)
    by = v.get("bytesValue")
    if by is not None:
        return _jstr(by)
    if depth > 0:
        av = v.get("arrayValue")
        if av is not None:
            vals = av.get("values") or []
            return "[" + ",".join(_jany(x, depth - 1) for x in vals) + "]"
        kv = v.get("kvlistValue")
        if kv is not None:
            vals = kv.get("values") or []
            return "{" + ",".join(_jkv(e, depth - 1) for e in vals) + "}"
    return "null"


def _jkv(a, depth: int) -> str:
    """One key/value entry; a NULL entry renders 'null:null'."""
    a = a or _NO_FIELDS
    return _jstr(a.get("key")) + ":" + _jany(a.get("value"), depth)


_KEY = itemgetter("key")


def _jvm_order(a, b) -> int:
    """The JVM comparator: key order, and 0 whenever a key or the entry
    is NULL."""
    ka, kb = (a or _NO_FIELDS).get("key"), (b or _NO_FIELDS).get("key")
    if ka is None or kb is None:
        return 0
    return -1 if ka < kb else 1 if ka > kb else 0


_JVM_ORDER = cmp_to_key(_jvm_order)


def _attrs_json(attrs) -> str:
    """Canonical sorted-key JSON object; NULL list -> '{}'. Key order is
    code-point order (== UTF8 byte order; both sorts stable). A NULL key
    or entry makes the JVM comparator inconsistent, so such lists sort
    with that comparator (CPython's and Java's TimSort run the same
    insertion sort below 32 entries)."""
    if attrs is None:
        return "{}"
    try:
        ordered = sorted(attrs, key=_KEY)
    except (TypeError, KeyError):
        return "{" + ",".join(_jkv(a, _ANY_VALUE_DEPTH)
                              for a in sorted(attrs, key=_JVM_ORDER)) + "}"
    return "{" + ",".join(
        _jstr(a.get("key")) + ":" + _jany(a.get("value"), _ANY_VALUE_DEPTH)
        for a in ordered) + "}"


def _body_text(v):
    """Log body: strings pass through, other AnyValue kinds render as
    JSON, all-null renders to SQL NULL."""
    if v is None:
        return None
    s = v.get("stringValue")
    if s is not None:
        return s
    r = _jany(v, _ANY_VALUE_DEPTH)
    return None if r == "null" else r


# ---------------------------------------------------------------------------
# JVM-exact scalar coercions
# ---------------------------------------------------------------------------

_ARITHMETIC_OVERFLOW = (
    "[ARITHMETIC_OVERFLOW] long overflow. Use 'try_subtract' to tolerate "
    "overflow and return NULL instead. If necessary set "
    '"spark.sql.ansi.enabled" to "false" to bypass this error. '
    "SQLSTATE: 22003")


def _ns(s):
    """u64-ns text -> int: try_cast(long), else the decimal(38,0) parse.
    Text neither takes, or above int64, raises a placeholder that
    ``_scope_error`` turns into the timestamp error; below int64 the
    decimal's ANSI cast to long overflows."""
    if s is None:
        return None
    v = _try_long(s)
    if v is not None:
        return v
    v = _try_dec38(s)
    if v is None or v > _I64_MAX:
        raise ValueError("timestamp outside int64")
    if v < _I64_MIN:
        raise ValueError(
            f'[CAST_OVERFLOW] The value {v}BD of the type "DECIMAL(38,0)" '
            'cannot be cast to "BIGINT" due to an overflow. Use `try_cast` '
            "to tolerate overflow and return NULL instead. SQLSTATE: 22003")
    return v


def _ns_us(s):
    """ns -> µs, floor division."""
    v = _ns(s)
    return None if v is None else v // 1000


def _scope_error(records, fields, err):
    """Raise what the JVM flatten raises for ``records`` (one scope's
    list) whose walk failed with ``err``: its timestamp check runs over
    the whole list before any column, and names the first record with a
    timestamp ``_ns`` rejects by its first non-NULL timestamp text."""
    for r in records:
        texts = [(r or _NO_FIELDS).get(f) for f in fields]
        for t in texts:
            if t is not None and _try_long(t) is None:
                v = _try_dec38(t)
                if v is None or v > _I64_MAX:
                    shown = next(x for x in texts if x is not None)
                    raise ValueError(
                        "OTLP parse error: timestamp overflows int64 range: "
                        + shown) from None
    raise err


def _i32(s, default):
    """try_cast(long) -> try_cast(int) -> default."""
    v = _try_long(s)
    return v if v is not None and _I32_MIN <= v <= _I32_MAX else default


def _enum(s, names: dict, default):
    """proto3 JSON enum: the exact enum name, else numeric (int32
    window), else the default."""
    if s is None:
        return default
    n = names.get(s)
    if n is not None:
        return n
    return _i32(s, default)


def _severity(s):
    """severityNumber: enum -> NULL default, 0 -> NULL."""
    v = _enum(s, _SEVERITY_NAMES, None)
    return None if v == 0 else v


def _hex_id(s):
    """nullif(lower(id), '')."""
    return s.lower() if s else None


def _attr(resource, key):
    for a in (resource or _NO_FIELDS).get("attributes") or []:
        if a and a.get("key") == key:
            return (a.get("value") or _NO_FIELDS).get("stringValue")
    return None


def _scope_cols(resource, scope) -> tuple:
    scope = scope or _NO_FIELDS
    return (_attr(resource, "service.name"),
            _attr(resource, "service.namespace"),
            _attr(resource, "service.instance.id"),
            _attrs_json((resource or _NO_FIELDS).get("attributes")),
            scope.get("name"), scope.get("version"),
            _attrs_json(scope.get("attributes")))


# ---------------------------------------------------------------------------
# Flatteners (walk order == the JVM explode order; NO sorting)
# ---------------------------------------------------------------------------

_LOG_TIMES = ("timeUnixNano", "observedTimeUnixNano")
_SPAN_TIMES = ("startTimeUnixNano", "endTimeUnixNano")
_POINT_TIMES = ("timeUnixNano", "startTimeUnixNano")


def flatten_logs_columns(env: dict) -> list[tuple]:
    """One tuple per log record, 18 fields in LOGS_SCHEMA order."""
    out = []
    ap = out.append
    for rl in env.get("resourceLogs") or []:
        rl = rl or _NO_FIELDS
        resource = rl.get("resource")
        for sl in rl.get("scopeLogs") or []:
            sl = sl or _NO_FIELDS
            (svc, svc_ns, svc_id, res_attrs, scope_name, scope_version,
             scope_attrs) = _scope_cols(resource, sl.get("scope"))
            records = sl.get("logRecords") or []
            try:
                for r in records:
                    get = (r or _NO_FIELDS).get
                    ap((
                        _ns_us(get("timeUnixNano")),
                        _ns_us(get("observedTimeUnixNano")),
                        _hex_id(get("traceId")),
                        _hex_id(get("spanId")),
                        svc, svc_ns, svc_id,
                        _severity(get("severityNumber")),
                        get("severityText"),
                        get("eventName"),
                        _body_text(get("body")),
                        res_attrs, scope_name, scope_version, scope_attrs,
                        _attrs_json(get("attributes")),
                        _i32(get("droppedAttributesCount"), 0),
                        _i32(get("flags"), 0),
                    ))
            except ValueError as e:
                _scope_error(records, _LOG_TIMES, e)
    return out


def _events_json(events) -> str:
    if events is None:
        return "[]"
    out = []
    for e in events:
        e = e or _NO_FIELDS
        out.append(
            '{"time_unix_nano":%s,"name":%s,"attributes":%s,'
            '"dropped_attributes_count":%s}'
            % (_long_text_or(e.get("timeUnixNano"), "null"),
               _jstr(e.get("name")),
               _attrs_json(e.get("attributes")),
               _long_text_or(e.get("droppedAttributesCount"), "0")))
    return "[" + ",".join(out) + "]"


def _links_json(links) -> str:
    if links is None:
        return "[]"
    out = []
    for li in links:
        li = li or _NO_FIELDS
        out.append(
            '{"trace_id":%s,"span_id":%s,"trace_state":%s,"attributes":%s,'
            '"dropped_attributes_count":%s}'
            % (_jstr(_hex_id(li.get("traceId"))),
               _jstr(_hex_id(li.get("spanId"))),
               _jstr(li.get("traceState")),
               _attrs_json(li.get("attributes")),
               _long_text_or(li.get("droppedAttributesCount"), "0")))
    return "[" + ",".join(out) + "]"


def flatten_traces_columns(env: dict) -> list[tuple]:
    """One tuple per span, 24 fields in TRACES_SCHEMA order."""
    out = []
    ap = out.append
    for rs in env.get("resourceSpans") or []:
        rs = rs or _NO_FIELDS
        resource = rs.get("resource")
        for ss in rs.get("scopeSpans") or []:
            ss = ss or _NO_FIELDS
            (svc, svc_ns, svc_id, res_attrs, scope_name, scope_version,
             scope_attrs) = _scope_cols(resource, ss.get("scope"))
            spans = ss.get("spans") or []
            try:
                for s in spans:
                    get = (s or _NO_FIELDS).get
                    start = _ns(get("startTimeUnixNano"))
                    end = _ns(get("endTimeUnixNano"))
                    duration = (end or 0) - (start or 0)
                    if not _I64_MIN <= duration <= _I64_MAX:
                        raise ValueError(_ARITHMETIC_OVERFLOW)
                    status = get("status") or _NO_FIELDS
                    ap((
                        None if start is None else start // 1000,
                        duration,
                        _hex_id(get("traceId")),
                        _hex_id(get("spanId")),
                        _hex_id(get("parentSpanId")),
                        get("traceState"),
                        svc, svc_ns, svc_id,
                        get("name"),
                        _enum(get("kind"), _KINDS, 0),
                        _enum(status.get("code"), _STATUS_CODES, 0),
                        status.get("message"),
                        res_attrs, scope_name, scope_version, scope_attrs,
                        _attrs_json(get("attributes")),
                        _events_json(get("events")),
                        _links_json(get("links")),
                        _i32(get("droppedAttributesCount"), 0),
                        _i32(get("droppedEventsCount"), 0),
                        _i32(get("droppedLinksCount"), 0),
                        _i32(get("flags"), 0),
                    ))
            except ValueError as e:
                _scope_error(spans, _SPAN_TIMES, e)
    return out


def _exemplars_json(exemplars) -> str:
    if exemplars is None:
        return "[]"
    out = []
    for e in exemplars:
        e = e or _NO_FIELDS
        d = e.get("asDouble")
        out.append(
            '{"time_unix_nano":%s,"value":%s,"span_id":%s,"trace_id":%s}'
            % (_long_text_or(e.get("timeUnixNano"), "null"),
               _jdouble(d) if d is not None
               else _long_text_or(e.get("asInt"), "null"),
               _jstr(_hex_id(e.get("spanId"))),
               _jstr(_hex_id(e.get("traceId")))))
    return "[" + ",".join(out) + "]"


def _bucket_counts(counts):
    return None if counts is None else [_try_long(c) for c in counts]


# the metric body keys of the four point shapes, in table order
METRIC_SHAPES = ("gauge", "sum", "histogram", "exponentialHistogram")


def flatten_metrics_columns(env: dict, shapes: tuple = METRIC_SHAPES
                            ) -> tuple[list, ...]:
    """One tuple list per shape of ``shapes`` (a subsequence of
    ``METRIC_SHAPES``), each in its METRICS_*_SCHEMA order. One walk
    fans out to the shapes asked for, like the reference's single-parse
    metrics transform; the others are never flattened."""
    out = tuple([] for _ in shapes)
    wanted = tuple(zip(shapes, out))
    for rm in env.get("resourceMetrics") or []:
        rm = rm or _NO_FIELDS
        resource = rm.get("resource")
        for sm in rm.get("scopeMetrics") or []:
            sm = sm or _NO_FIELDS
            sc = _scope_cols(resource, sm.get("scope"))
            for m in sm.get("metrics") or []:
                m = m or _NO_FIELDS
                head = (m.get("name"), m.get("description"), m.get("unit"))
                for shape, rows in wanted:
                    body = m.get(shape)
                    if body is None:
                        continue
                    if shape != "gauge":
                        temporality = _enum(body.get("aggregationTemporality"),
                                            _TEMPORALITIES, 0)
                    points = body.get("dataPoints") or []
                    try:
                        for dp in points:
                            get = (dp or _NO_FIELDS).get
                            ts = (_ns_us(get("timeUnixNano")),
                                  _ns_us(get("startTimeUnixNano")))
                            tail = (*sc, _attrs_json(get("attributes")),
                                    _i32(get("flags"), 0),
                                    _exemplars_json(get("exemplars")))
                            if shape == "gauge" or shape == "sum":
                                row = (*ts, *head, _try_long(get("asInt")),
                                       get("asDouble"), *tail)
                                if shape == "sum":
                                    row += (temporality,
                                            body.get("isMonotonic") or False)
                            elif shape == "histogram":
                                row = (*ts, *head, _try_long(get("count")),
                                       get("sum"), get("min"), get("max"),
                                       _bucket_counts(get("bucketCounts")),
                                       get("explicitBounds"), *tail, temporality)
                            else:
                                pos = get("positive") or _NO_FIELDS
                                neg = get("negative") or _NO_FIELDS
                                zero = _try_long(get("zeroCount"))
                                row = (*ts, *head, _try_long(get("count")),
                                       get("sum"), get("min"), get("max"),
                                       _i32(get("scale"), 0),
                                       0 if zero is None else zero,
                                       get("zeroThreshold"),
                                       _i32(pos.get("offset"), 0),
                                       _bucket_counts(pos.get("bucketCounts")) or [],
                                       _i32(neg.get("offset"), 0),
                                       _bucket_counts(neg.get("bucketCounts")) or [],
                                       *tail, temporality)
                            rows.append(row)
                    except ValueError as e:
                        _scope_error(points, _POINT_TIMES, e)
    return out


def _metrics_shape(shape: str):
    return lambda env: flatten_metrics_columns(env, (shape,))[0]


# table key -> (flattener, wire signal); table keys are schemas.TARGET_TABLES'
FLATTENERS = {
    "logs": (flatten_logs_columns, "logs"),
    "traces": (flatten_traces_columns, "traces"),
    "metrics_gauge": (_metrics_shape("gauge"), "metrics"),
    "metrics_sum": (_metrics_shape("sum"), "metrics"),
    "metrics_histogram": (_metrics_shape("histogram"), "metrics"),
    "metrics_exp_histogram": (_metrics_shape("exponentialHistogram"), "metrics"),
}

# Fields the flatteners NEVER leave null (rendered JSON always a
# string, counts always defaulted, duration always computed) — the
# output nullability the schema gates compare.
_METRIC_NN = {"resource_attributes", "scope_attributes", "metric_attributes",
              "flags", "exemplars_json"}
NON_NULLABLE = {
    "logs": {"resource_attributes", "scope_attributes", "log_attributes",
             "dropped_attributes_count", "flags"},
    "traces": {"duration_time_unix_nano", "kind", "status_code",
               "resource_attributes", "scope_attributes", "span_attributes",
               "events_json", "links_json", "dropped_attributes_count",
               "dropped_events_count", "dropped_links_count", "flags"},
    "metrics_gauge": _METRIC_NN,
    "metrics_sum": _METRIC_NN | {"aggregation_temporality", "is_monotonic"},
    "metrics_histogram": _METRIC_NN | {"aggregation_temporality"},
    "metrics_exp_histogram": _METRIC_NN | {
        "scale", "zero_count", "positive_offset", "positive_bucket_counts",
        "negative_offset", "negative_bucket_counts",
        "aggregation_temporality"},
}


def flat_schema(key: str) -> T.StructType:
    """Table ``key``'s flat output schema."""
    nn = NON_NULLABLE[key]
    return T.StructType([
        T.StructField(f.name, f.dataType, nullable=f.name not in nn)
        for f in _schemas.SIGNAL_SCHEMAS[key].fields])


def _arrow_batches(parts, schema):
    """Flat tuple lists -> Arrow record batches of ``schema``: a batch
    takes parts while it stays within ``MAX_ENVELOPE_SLICE_RECORDS``
    rows (a single larger part is one batch)."""
    import pyarrow as pa

    def batch(tuples):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(zip(*tuples), schema)],
            names=schema.names)

    acc: list = []
    for tuples in parts:
        if acc and len(acc) + len(tuples) > MAX_ENVELOPE_SLICE_RECORDS:
            yield batch(acc)
            acc = []
        acc += tuples
    if acc:
        yield batch(acc)


def flatten_parsed(env, key: str):
    """Envelope rows parsed by ``from_json`` (column ``env``) -> table
    ``key``'s ``flat_schema`` rows: the JSON/NDJSON reads of
    ``read_otlp_*`` and the seal's refused lines. The parsed envelopes
    cross to Python as ``to_json`` text, and one ``mapInArrow`` runs
    ``json.loads`` and the table's flattener, each envelope cut by
    ``slice_envelope``. ``to_json`` text already has the envelope
    schema's shape, except that it quotes NaN and the infinities: only
    text holding such a string pays the lenient conformance (as costly
    as the parse) that turns them back into doubles."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from duckdb_otlp_spark.session import ensure_package_on_workers

    flatten, signal = FLATTENERS[key]
    env_schema = _ENVELOPES[signal][1]
    out = flat_schema(key)

    def envelopes(docs):
        for doc in docs:
            parsed = json.loads(doc)
            if '"NaN"' in doc or 'Infinity"' in doc:
                parsed = _conform_to_schema(parsed, env_schema)
            yield from slice_envelope(parsed, signal)

    def run(batches):
        schema = to_arrow_schema(out)
        for batch in batches:
            yield from _arrow_batches(
                map(flatten, envelopes(batch.column(0).to_pylist())), schema)

    ensure_package_on_workers(env.sparkSession)
    return env.select(F.to_json("env").alias("value")).mapInArrow(run, out)


# ---------------------------------------------------------------------------
# File readers: protobuf, OTAP, and format("otlp"/"otap")
# ---------------------------------------------------------------------------

# driver-side format sniff budget for mode="auto": above this many
# files the generic envelope plan is used (the sniff is one 16-byte
# read per file — O(files) driver I/O stays bounded; pass
# mode="protobuf" to force the fast path on huge pb corpora)
SNIFF_MAX_FILES = 1024


def all_protobuf(spark, path) -> bool:
    """Driver-side FORMAT AUTO pre-check: True iff the input resolves
    to a bounded set of regular files whose heads all say protobuf
    (the same looks_like_json test the executor decode applies per
    file). Any JSON head, directory, empty listing, oversized listing,
    or I/O trouble answers False — the generic plan stays correct for
    every one of those."""
    from duckdb_otlp_spark.sources import otlp_proto

    paths = path if isinstance(path, list) else [path]
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        files = []
        for p in paths:
            hp = jvm.org.apache.hadoop.fs.Path(p)
            fs = hp.getFileSystem(conf)
            statuses = fs.globStatus(hp)
            if statuses is None:
                return False
            for st in statuses:
                if st.isDirectory():
                    for sub in fs.listStatus(st.getPath()):
                        if sub.isFile():
                            files.append((fs, sub.getPath()))
                        else:
                            return False
                        if len(files) > SNIFF_MAX_FILES:
                            return False
                else:
                    files.append((fs, st.getPath()))
                if len(files) > SNIFF_MAX_FILES:
                    return False
        if not files:
            return False
        for fs, fp in files:
            stream = fs.open(fp)
            try:
                head = bytes(stream.readNBytes(16))
            finally:
                stream.close()
            if head and otlp_proto.looks_like_json(head):
                return False
        return True
    except Exception:
        return False


def _json_envelopes(text: str, signal: str):
    """An OTLP/JSON file (one document, or NDJSON) -> strictly conformed
    envelopes, raising the JVM parse's two error classes (``invalid
    JSON`` / ``expected '<spine>' envelope``, each with the document's
    first 120 characters). A document the JVM would read leniently (a
    mistyped field below the spine) raises here instead."""
    spine, env_schema = _ENVELOPES[signal]
    lines = [ln for ln in text.split("\n") if ln.strip()]
    for doc in lines if _is_ndjson(lines) else [text]:
        excerpt = doc[:120]
        try:
            env = json.loads(doc)
        except ValueError:
            raise ValueError(
                f"OTLP parse error: invalid JSON: {excerpt}") from None
        if type(env) is not dict or type(env.get(spine)) is not list:
            raise ValueError(
                f"OTLP parse error: expected '{spine}' envelope: {excerpt}")
        try:
            yield _conform_to_schema(env, env_schema, strict=True)
        except (ValueError, OverflowError) as e:
            raise ValueError(f"OTLP parse error: {e}: {excerpt}") from e


def _file_envelopes(fpath: str, data: bytes, signal: str, container: str):
    if container == "otap":
        from duckdb_otlp_spark.sources.otap import (
            OtapDecodeError, _err, bar_to_envelope)
        try:
            env = bar_to_envelope(data, signal)
        except OtapDecodeError:
            raise
        except Exception as e:
            raise _err(f"{e} ({fpath})") from e
        # the flatteners take the domain from_json yields; the OTAP
        # tree is conformed to it, the wire decoders emit it already
        return [_conform_to_schema(env, _ENVELOPES[signal][1])]
    if not data.lstrip(b"\xef\xbb\xbf").strip():
        raise ValueError(f"OTLP parse error: whitespace-only file: {fpath}")
    from duckdb_otlp_spark.sources import otlp_proto
    if container == "otlp" and otlp_proto.looks_like_json(data):
        return _json_envelopes(data.decode("utf-8"), signal)
    try:
        return [otlp_proto.DECODERS[signal](data)]
    except ValueError as e:
        raise ValueError(f"OTLP parse error: invalid protobuf payload "
                         f"({e}): {fpath}") from e


def decode_file(fpath: str, data: bytes, key: str, container: str,
                cap: int = MAX_READ_FILE_BYTES):
    """One input file -> ``flat_schema(key)`` Arrow record batches: the
    per-file decode behind :func:`read_flat` and
    ``format("otlp"/"otap")``.

    ``container`` names the file format: ``"protobuf"`` (OTLP wire),
    ``"otap"`` (one self-contained ``BatchArrowRecords`` message) or
    ``"otlp"`` (per-file FORMAT AUTO: OTLP/JSON document or NDJSON,
    else protobuf). Every container shares the reference's file rules:
    a file over ``cap`` bytes raises ``OTLP read error``, an empty file
    yields no rows, and a whitespace-only OTLP file raises. Bad payloads
    raise ``OTLP parse error: invalid protobuf payload`` or ``OTAP
    decode error``. Each envelope is cut by ``slice_envelope``, and
    batches hold at most ``MAX_ENVELOPE_SLICE_RECORDS`` records."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if len(data) > cap:
        raise ValueError(
            f"OTLP read error: file exceeds {cap} byte limit: {fpath}")
    if not data:
        return
    flatten, signal = FLATTENERS[key]
    yield from _arrow_batches(
        (flatten(part) for env in _file_envelopes(fpath, data, signal, container)
         for part in slice_envelope(env, signal)),
        to_arrow_schema(flat_schema(key)))


def read_flat(spark, path, key: str, container: str):
    """Protobuf or OTAP file(s) -> FINAL flat table ``key``, decoded
    and flattened executor-side by :func:`decode_file` in one
    ``mapInArrow`` (``binaryFile`` keeps one file per task, the
    reference's parallelism unit)."""
    from duckdb_otlp_spark.session import ensure_package_on_workers
    from duckdb_otlp_spark.sources import otlp_json

    # bound at plan-build time so the closure ships the value (a module
    # global would re-resolve on the worker, ignoring driver-side
    # monkeypatches)
    cap = otlp_json.MAX_READ_FILE_BYTES
    paths = path if isinstance(path, list) else [path]

    def decode(batches):
        for batch in batches:
            for fpath, content in zip(batch.column(0).to_pylist(),
                                      batch.column(1).to_pylist()):
                yield from decode_file(fpath, content, key, container, cap)

    files = spark.read.format("binaryFile").load(paths).select("path", "content")
    ensure_package_on_workers(files.sparkSession)
    return files.mapInArrow(decode, flat_schema(key))


# ---------------------------------------------------------------------------
# Seal: spooled JSON lines -> flat rows of every table of a signal
# ---------------------------------------------------------------------------

# table keys each spooled signal seals into, in write order
SEAL_TABLES = {
    "logs": ("logs",),
    "traces": ("traces",),
    "metrics": ("metrics_gauge", "metrics_sum", "metrics_histogram",
                "metrics_exp_histogram"),
}

# Jackson's stream limits, which make the JVM parse fail where
# json.loads succeeds: object keys over 50,000 chars and strings over
# 20M chars (checked together, conservatively, by _long_token), and
# number tokens over 1,000 chars (_NUM_TOKEN_MAX stays well under).
# Nesting needs no check: CPython's json recursion limit (< 1,000
# levels) trips before Jackson's 1,000.
_NAME_CAP = 50_000
_NUM_TOKEN_MAX = 200
# \uD800-\uDFFF escapes: a lone surrogate would fail the Arrow string
# build for the whole batch, so every surrogate escape is refused
_SURROGATE_ESC = re.compile(r"\\u[dD][89abAB]")


def _long_token(raw: bytes) -> bool:
    """True when some quoted token may reach Jackson's 50k name cap.
    Escaped quotes are blanked first; that can only merge tokens and
    overestimate lengths, never hide a long one."""
    if len(raw) < _NAME_CAP:
        return False
    return max(map(len, raw.replace(b'\\"', b"..").split(b'"'))) >= _NAME_CAP


def _num_token(cast):
    def parse(tok: str):
        if len(tok) > _NUM_TOKEN_MAX:
            raise ValueError("number token too long")
        return cast(tok)
    return parse


def _no_constant(tok):
    raise ValueError(f"non-finite constant {tok}")


_PARSE_INT = _num_token(int)
_PARSE_FLOAT = _num_token(float)


def _strict_line(raw: bytes, spine: str, env_schema):
    """One spooled line -> conformed envelope, or raise when the line is
    outside the domain where ``json.loads`` reads what Jackson reads."""
    if _long_token(raw):
        raise ValueError("token beyond Jackson's length caps")
    text = raw.decode("utf-8")
    if "\\u" in text and _SURROGATE_ESC.search(text):
        raise ValueError("surrogate escape")
    env = json.loads(text, parse_constant=_no_constant,
                     parse_int=_PARSE_INT, parse_float=_PARSE_FLOAT)
    if type(env) is not dict or env.get(spine) is None:
        raise ValueError(f"no '{spine}' envelope")
    return _conform_to_schema(env, env_schema, strict=True)


def seal_slices(raws, signal: str):
    """The seal's one parse loop: spooled request lines (bytes, without
    their ``\\n``) -> ``(rows, refused)`` slices, where ``rows`` holds
    one list of flat tuples per table of ``SEAL_TABLES[signal]`` and
    ``refused`` the lines the strict parse refused, verbatim. A slice is yielded once it holds
    ``MAX_ENVELOPE_SLICE_RECORDS`` rows or refused lines (checked per
    line), and at the end. Blank lines vanish, like the lax route's
    ``trim(value) != ''`` filter."""
    keys = SEAL_TABLES[signal]
    spine, env_schema = _ENVELOPES[signal]
    if signal == "metrics":
        flatten = flatten_metrics_columns
    else:
        one = FLATTENERS[signal][0]

        def flatten(env):
            return (one(env),)
    rows: list[list] = [[] for _ in keys]
    refused: list = []
    pending = 0
    for raw in raws:
        if not raw.strip(b" "):
            continue
        try:
            env = _strict_line(raw, spine, env_schema)
        except Exception:  # noqa: BLE001 — refused: the lax from_json parse
            refused.append(raw)
            pending += 1
            continue
        for acc, part in zip(rows, flatten(env)):
            acc += part
            pending += len(part)
        if pending >= MAX_ENVELOPE_SLICE_RECORDS:
            yield rows, refused
            rows, refused, pending = [[] for _ in keys], [], 0
    if pending:
        yield rows, refused


# Spark's leaf for a NULL partition timestamp
_NULL_LEAF = "/".join(f"{p}=__HIVE_DEFAULT_PARTITION__"
                      for p in ("year", "month", "day"))


def _day_leaves(table, ts_col: str):
    """(``year=/month=/day=`` leaf, rows) pairs of ``table`` — the values
    Spark's ``date_format(ts, 'yyyy'/'MM'/'dd')`` gives the same
    TIMESTAMP_NTZ column, NULL included."""
    import pyarrow.compute as pc

    ts = table.column(ts_col)
    day = pc.add(pc.add(pc.multiply(pc.year(ts), 10000),
                        pc.multiply(pc.month(ts), 100)), pc.day(ts))
    keys = pc.unique(day).to_pylist()
    for k in keys:
        leaf = _NULL_LEAF if k is None else (
            f"year={k // 10000:04d}/month={k // 100 % 100:02d}/day={k % 100:02d}")
        yield leaf, (table if len(keys) == 1 else table.filter(
            pc.is_null(day) if k is None else pc.equal(day, k)))


def seal_files(paths: list[str], signal: str, staging: str,
               compression: str) -> dict:
    """Executor side of every server seal: the spooled request
    lines of ``paths`` (split on ``\\n`` only) go through
    :func:`seal_slices`, and each slice's rows of each table stream
    through one ``ParquetWriter`` per ``year=/month=/day=`` leaf under
    ``staging/<table>/`` (zstd level 1, or ``compression``), so memory
    is bounded by a slice, not by ``paths``. Refused lines go verbatim
    to ``staging/refused/`` as NDJSON for the lax ``from_json`` parse.

    Returns ``{"files": [(table, path under staging/<table>, rows)],
    "refused": n}``; nothing is visible outside ``staging`` until the
    driver publishes the files or Spark rewrites them."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    keys = SEAL_TABLES[signal]
    tables = [_schemas.TARGET_TABLES[k] for k in keys]
    arrow = [to_arrow_schema(flat_schema(k)) for k in keys]
    name = f"part-{uuid.uuid4().hex}.parquet"
    opts = {"compression": compression,
            "compression_level": 1 if compression == "zstd" else None}
    writers: dict[tuple[int, str], list] = {}   # (table, leaf) -> [writer, rows]
    refused_n = 0
    refused_fh = None

    def lines():
        for path in paths:
            with open(path, "rb") as fh:
                for line in fh:
                    yield line[:-1] if line.endswith(b"\n") else line

    try:
        for rows, refused in seal_slices(lines(), signal):
            for i, tuples in enumerate(rows):
                if not tuples:
                    continue
                table = pa.Table.from_arrays(
                    [pa.array(c, type=f.type)
                     for c, f in zip(zip(*tuples), arrow[i])], schema=arrow[i])
                for leaf, part in _day_leaves(table,
                                              _schemas.partition_ts(tables[i])):
                    w = writers.get((i, leaf))
                    if w is None:
                        d = os.path.join(staging, tables[i], leaf)
                        os.makedirs(d, exist_ok=True)
                        w = writers[(i, leaf)] = [pq.ParquetWriter(
                            os.path.join(d, name), arrow[i], **opts), 0]
                    w[0].write_table(part)
                    w[1] += part.num_rows
            if refused:
                if refused_fh is None:
                    os.makedirs(os.path.join(staging, "refused"), exist_ok=True)
                    refused_fh = open(os.path.join(staging, "refused",
                                                   name[:-8] + ".jsonl"), "wb")
                refused_fh.write(b"\n".join(refused) + b"\n")
                refused_n += len(refused)
    finally:
        for w, _ in writers.values():
            w.close()
        if refused_fh is not None:
            refused_fh.close()
    return {"files": [(tables[i], f"{leaf}/{name}", n)
                      for (i, leaf), (_, n) in writers.items()],
            "refused": refused_n}
