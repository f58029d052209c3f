"""OTLP/JSON + JSONL file readers for the six signal tables.

Spark-first re-expression of the reference's ``read_otlp_*`` table
functions (reference: src/function/read_otlp.cpp:467-507). The reference
parses whole files once in Rust and emits Arrow. Here two routes exist:

- protobuf inputs (``mode='protobuf'``, or ``mode='auto'`` when every
  file sniffs as protobuf) are decoded and flattened executor-side in
  one ``mapInArrow`` (``flat_decode.read_flat``), the route the OTAP
  readers and ``format("otlp"/"otap")`` share;
- JSON, NDJSON and mixed listings keep the JVM route: ``from_json`` +
  ``explode`` + higher-order functions (the ``flatten_*`` plans below),
  whose lax partial-result semantics the Python decode does not twin.
  Catalyst prunes the ``from_json`` parse schema down to the selected
  output columns (the reference prunes at copy level only,
  reference: src/function/read_otlp.cpp:392-395).

Semantics matched to the reference:

- Each input file is either ONE multi-line JSON document or NDJSON with
  one envelope per line; auto-detected per file
  (reference: test/sql/read_otlp_json.test:113-122).
- Malformed JSON, whitespace-only files, and wrong-signal envelopes are
  hard errors for the whole scan; empty files contribute 0 rows
  (reference: test/sql/read_otlp_edge_cases.test:55-66,
  test/sql/read_otlp_multifile_glob.test).
- ``timeUnixNano`` > i64::MAX is a hard error, no clamping
  (reference: test/sql/read_otlp_timestamp_overflow.test).
- trace/span ids -> lowercase hex strings; empty string -> NULL
  (reference: src/otlp_arrow.cpp:86-94, 368-403).
- severity_number 0 (unspecified) -> NULL
  (reference: test/sql/read_otlp_edge_cases.test:42-48).
- per-file size cap 100 MB (reference: src/include/otlp_ingest_limits.hpp
  MAX_READ_FILE_BYTES).

Modes: ``mode="auto"`` reads whole files (file-level parallelism —
same unit of work as the reference, one task per file, bounded by the
100 MB cap). ``mode="protobuf"`` forces the protobuf decode for every
file. ``mode="lines"`` is the 100 TB path: plain line-splittable
``spark.read.text`` so a single huge NDJSON file fans out across
executors; use it when inputs are known-NDJSON. Any other mode raises
``ValueError``.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference: src/include/otlp_ingest_limits.hpp MAX_READ_FILE_BYTES
MAX_READ_FILE_BYTES = 100 * 1000 * 1000

# Max innermost records (logRecords/spans/metrics) per typed envelope
# ROW emitted by the protobuf decode path. A 100 MB single-envelope file
# is legal under the reference's cap, but one envelope = one JVM struct
# row downstream, and rows in the hundreds of MB are a heap cliff: at a
# 4M-record/64-file tier (62.5k-record envelopes) the unsliced read
# OOM'd a 16 GB JVM and GC-collapsed a 64 GB one (39.5 s best) — sliced
# it runs in 7.4 s on 24 GB. Slicing is output-invariant: the flatten
# explodes per record and every resource/scope-derived column is
# recomputed identically per slice (pinned by
# tests/test_read_otlp_proto.py slice parity tests).
MAX_ENVELOPE_SLICE_RECORDS = 8192

_I64_MAX = 9223372036854775807

# (outer, middle, innermost) list keys per wire signal — the explode
# spine the readers flatten and slice_envelope slices along.
_ENVELOPE_KEYS = {
    "logs": ("resourceLogs", "scopeLogs", "logRecords"),
    "traces": ("resourceSpans", "scopeSpans", "spans"),
    "metrics": ("resourceMetrics", "scopeMetrics", "metrics"),
}


def slice_envelope(env: dict, signal: str,
                   max_records: int = MAX_ENVELOPE_SLICE_RECORDS):
    """Yield envelopes jointly equivalent to ``env`` with at most
    ``max_records`` innermost records each.

    Flattened output is identical to the unsliced envelope: the readers
    explode outer -> middle -> innermost and derive resource/scope
    columns per (resource, scope) group, and each slice carries full
    copies of its group's resource/scope fields. Groups that contain no
    innermost records flatten to zero rows either way and are dropped
    from slices. For metrics the innermost unit is the ``metrics`` list
    entry (a metric's dataPoints stay together), so a single metric
    with more than ``max_records`` dataPoints is not subdivided —
    bounded in practice by the 100 MB file cap.
    """
    outer_k, mid_k, inner_k = _ENVELOPE_KEYS[signal]
    rls = env.get(outer_k) or []
    if sum(len(sl.get(inner_k) or []) for rl in rls
           for sl in (rl.get(mid_k) or [])) <= max_records:
        yield env
        return
    env_rest = {k: v for k, v in env.items() if k != outer_k}
    acc: list = []
    n = 0
    for rl in rls:
        rl_rest = {k: v for k, v in rl.items() if k != mid_k}
        for sl in (rl.get(mid_k) or []):
            recs = sl.get(inner_k) or []
            sl_rest = {k: v for k, v in sl.items() if k != inner_k}
            lo = 0
            while lo < len(recs):
                take = min(max_records - n, len(recs) - lo)
                acc.append({**rl_rest,
                            mid_k: [{**sl_rest,
                                     inner_k: recs[lo:lo + take]}]})
                n += take
                lo += take
                if n >= max_records:
                    yield {**env_rest, outer_k: acc}
                    acc, n = [], 0
    if acc:
        yield {**env_rest, outer_k: acc}

# JSON documents above this size (a whole-document file OR one NDJSON
# line) route through the executor-side json.loads + slice_envelope
# typed path instead of ONE from_json JVM row (the documented GC-stall
# boundary for near-cap single-document files, r12 VERDICT #2 /
# ADVICE).  Below it the JVM's Jackson parse is faster and owns the
# error contract; a document that fails the Python parse, lacks the
# signal spine, or carries a shape Jackson would not cleanly coerce
# falls back to the JVM path so invalid-JSON / wrong-envelope errors
# are byte-identical in both regimes (tests/test_read_otlp_json.py).
MAX_WHOLE_DOC_TYPED_BYTES = 8 * 1000 * 1000


def _conform_to_schema(v, dt, strict: bool = False):
    """Coerce a decoded envelope value tree to a Spark schema, mirroring
    what ``from_json`` does on the rendered JSON text: numeric/bool
    scalars landing on string-typed fields are stringified exactly as
    Jackson-then-coerce would render them, unknown struct keys are
    dropped, missing keys become null. Schema-driven and fixed-depth, so
    one cheap walk per envelope replaces the old walk-to-JSON-text; the
    walk is compiled once per (schema, strictness) into nested closures.

    ``strict=True`` (the oversized whole-document JSON route, the
    seal's executor-side flattener and the DataSource's JSON files)
    raises ``ValueError`` on any shape Jackson would NOT cleanly coerce
    — non-dict where a struct is expected, non-list for an array, float
    for a string field (Jackson keeps the raw token text, Python has
    already lost it), bool for double — so the caller can fall back to
    the JVM parse and keep the error/corrupt-record contract
    byte-identical regardless of file size. The pb/OTAP decoders emit
    schema-exact trees and keep the lenient default."""
    got = _CONFORMERS.get((id(dt), strict))
    if got is None:
        # the schema rides along so its id() cannot be reused
        got = _CONFORMERS[(id(dt), strict)] = (dt, _conformer(dt, strict))
    return got[1](v)


_CONFORMERS: dict[tuple[int, bool], tuple[Any, Any]] = {}


def _conformer(dt, strict: bool):
    """The compiled walk behind :func:`_conform_to_schema`."""
    def fail(want, v):
        raise ValueError(f"expected {want}, got {type(v).__name__}")

    if isinstance(dt, T.StructType):
        subs = {f.name: _conformer(f.dataType, strict) for f in dt.fields}

        def struct(v):
            if v is None:
                return None
            if strict and type(v) is not dict:
                fail("object", v)
            return {k: subs[k](x) for k, x in v.items() if k in subs}
        return struct
    if isinstance(dt, T.ArrayType):
        element = _conformer(dt.elementType, strict)

        def array(v):
            if v is None:
                return None
            if strict and type(v) is not list:
                fail("array", v)
            return [element(x) for x in v]
        return array
    if isinstance(dt, T.StringType):
        def string(v):
            if v is None or type(v) is str:
                return v
            if type(v) is bool:
                return "true" if v else "false"
            if strict and type(v) is not int:
                fail("string", v)
            return str(v)
        return string
    if isinstance(dt, T.DoubleType):
        def double(v):
            if type(v) is int:
                # Jackson's getDoubleValue for an integer token (correctly
                # rounded; past the double range Python raises
                # OverflowError)
                return float(v)
            if strict and v is not None and type(v) is not float:
                fail("number", v)
            return v
        return double
    if strict and isinstance(dt, (T.BooleanType, T.LongType)):
        want, kind = (("boolean", bool) if isinstance(dt, T.BooleanType)
                      else ("integer", int))

        def exact(v):
            if v is not None and type(v) is not kind:
                fail(want, v)
            return v
        return exact
    return lambda v: v


def _typed_doc_envelope(text: str, signal: str):
    """json.loads route for an oversized single-document envelope.
    Returns the envelope dict when the document parses cleanly and
    carries the signal's spine key; ``None`` falls back to the JVM
    parse, which owns the invalid-JSON / wrong-envelope error
    contract (so error behavior never depends on file size)."""
    def _reject(tok):
        raise ValueError(f"non-finite constant {tok}")
    try:
        env = json.loads(text, parse_constant=_reject)
    except ValueError:
        return None
    if not isinstance(env, dict) or _ENVELOPE_KEYS[signal][0] not in env:
        return None
    return env


# Depth to which nested attribute values (arrayValue / kvlistValue) are
# decoded; deeper nesting degrades to JSON 'null' like any unknown value.
_ANY_VALUE_DEPTH = 3


# ---------------------------------------------------------------------------
# Envelope parse schemas (OTLP/JSON, proto3 JSON mapping).
# int64/uint64 fields use StringType: proto3 JSON renders them as strings,
# and Spark's JacksonParser coerces bare numbers to string but NOT quoted
# strings to long — StringType accepts both encodings.
# ---------------------------------------------------------------------------

def _any_value_type(depth: int) -> T.StructType:
    fields = [
        T.StructField("stringValue", T.StringType()),
        T.StructField("boolValue", T.BooleanType()),
        T.StructField("intValue", T.StringType()),
        T.StructField("doubleValue", T.DoubleType()),
        T.StructField("bytesValue", T.StringType()),
    ]
    if depth > 0:
        inner = _any_value_type(depth - 1)
        fields.append(
            T.StructField("arrayValue", T.StructType([
                T.StructField("values", T.ArrayType(inner)),
            ]))
        )
        fields.append(
            T.StructField("kvlistValue", T.StructType([
                T.StructField("values", T.ArrayType(T.StructType([
                    T.StructField("key", T.StringType()),
                    T.StructField("value", inner),
                ]))),
            ]))
        )
    return T.StructType(fields)


def _attrs_type(depth: int = _ANY_VALUE_DEPTH) -> T.ArrayType:
    return T.ArrayType(T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("value", _any_value_type(depth)),
    ]))


_ATTRS = _attrs_type()

_RESOURCE = T.StructType([
    T.StructField("attributes", _ATTRS),
    T.StructField("droppedAttributesCount", T.StringType()),
])

_SCOPE = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("version", T.StringType()),
    T.StructField("attributes", _ATTRS),
    T.StructField("droppedAttributesCount", T.StringType()),
])

_LOG_RECORD = T.StructType([
    T.StructField("timeUnixNano", T.StringType()),
    T.StructField("observedTimeUnixNano", T.StringType()),
    T.StructField("severityNumber", T.StringType()),
    T.StructField("severityText", T.StringType()),
    T.StructField("body", _any_value_type(_ANY_VALUE_DEPTH)),
    T.StructField("attributes", _ATTRS),
    T.StructField("droppedAttributesCount", T.StringType()),
    T.StructField("flags", T.StringType()),
    T.StructField("traceId", T.StringType()),
    T.StructField("spanId", T.StringType()),
    T.StructField("eventName", T.StringType()),
])

LOGS_ENVELOPE = T.StructType([
    T.StructField("resourceLogs", T.ArrayType(T.StructType([
        T.StructField("resource", _RESOURCE),
        T.StructField("scopeLogs", T.ArrayType(T.StructType([
            T.StructField("scope", _SCOPE),
            T.StructField("logRecords", T.ArrayType(_LOG_RECORD)),
        ]))),
    ]))),
])

_SPAN_EVENT = T.StructType([
    T.StructField("timeUnixNano", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("attributes", _ATTRS),
    T.StructField("droppedAttributesCount", T.StringType()),
])

_SPAN_LINK = T.StructType([
    T.StructField("traceId", T.StringType()),
    T.StructField("spanId", T.StringType()),
    T.StructField("traceState", T.StringType()),
    T.StructField("attributes", _ATTRS),
    T.StructField("droppedAttributesCount", T.StringType()),
    T.StructField("flags", T.StringType()),
])

_SPAN = T.StructType([
    T.StructField("traceId", T.StringType()),
    T.StructField("spanId", T.StringType()),
    T.StructField("parentSpanId", T.StringType()),
    T.StructField("traceState", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("startTimeUnixNano", T.StringType()),
    T.StructField("endTimeUnixNano", T.StringType()),
    T.StructField("attributes", _ATTRS),
    T.StructField("droppedAttributesCount", T.StringType()),
    T.StructField("events", T.ArrayType(_SPAN_EVENT)),
    T.StructField("droppedEventsCount", T.StringType()),
    T.StructField("links", T.ArrayType(_SPAN_LINK)),
    T.StructField("droppedLinksCount", T.StringType()),
    T.StructField("status", T.StructType([
        T.StructField("code", T.StringType()),
        T.StructField("message", T.StringType()),
    ])),
    T.StructField("flags", T.StringType()),
])

TRACES_ENVELOPE = T.StructType([
    T.StructField("resourceSpans", T.ArrayType(T.StructType([
        T.StructField("resource", _RESOURCE),
        T.StructField("scopeSpans", T.ArrayType(T.StructType([
            T.StructField("scope", _SCOPE),
            T.StructField("spans", T.ArrayType(_SPAN)),
        ]))),
    ]))),
])

_EXEMPLAR = T.StructType([
    T.StructField("filteredAttributes", _ATTRS),
    T.StructField("timeUnixNano", T.StringType()),
    T.StructField("asDouble", T.DoubleType()),
    T.StructField("asInt", T.StringType()),
    T.StructField("spanId", T.StringType()),
    T.StructField("traceId", T.StringType()),
])

_NUMBER_DP = T.StructType([
    T.StructField("attributes", _ATTRS),
    T.StructField("startTimeUnixNano", T.StringType()),
    T.StructField("timeUnixNano", T.StringType()),
    T.StructField("asDouble", T.DoubleType()),
    T.StructField("asInt", T.StringType()),
    T.StructField("exemplars", T.ArrayType(_EXEMPLAR)),
    T.StructField("flags", T.StringType()),
])

_HIST_DP = T.StructType([
    T.StructField("attributes", _ATTRS),
    T.StructField("startTimeUnixNano", T.StringType()),
    T.StructField("timeUnixNano", T.StringType()),
    T.StructField("count", T.StringType()),
    T.StructField("sum", T.DoubleType()),
    T.StructField("bucketCounts", T.ArrayType(T.StringType())),
    T.StructField("explicitBounds", T.ArrayType(T.DoubleType())),
    T.StructField("exemplars", T.ArrayType(_EXEMPLAR)),
    T.StructField("flags", T.StringType()),
    T.StructField("min", T.DoubleType()),
    T.StructField("max", T.DoubleType()),
])

_EXP_BUCKETS = T.StructType([
    T.StructField("offset", T.StringType()),
    T.StructField("bucketCounts", T.ArrayType(T.StringType())),
])

_EXP_HIST_DP = T.StructType([
    T.StructField("attributes", _ATTRS),
    T.StructField("startTimeUnixNano", T.StringType()),
    T.StructField("timeUnixNano", T.StringType()),
    T.StructField("count", T.StringType()),
    T.StructField("sum", T.DoubleType()),
    T.StructField("scale", T.StringType()),
    T.StructField("zeroCount", T.StringType()),
    T.StructField("positive", _EXP_BUCKETS),
    T.StructField("negative", _EXP_BUCKETS),
    T.StructField("exemplars", T.ArrayType(_EXEMPLAR)),
    T.StructField("flags", T.StringType()),
    T.StructField("min", T.DoubleType()),
    T.StructField("max", T.DoubleType()),
    T.StructField("zeroThreshold", T.DoubleType()),
])

_SUMMARY_DP = T.StructType([
    T.StructField("timeUnixNano", T.StringType()),
])

_METRIC = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("unit", T.StringType()),
    T.StructField("gauge", T.StructType([
        T.StructField("dataPoints", T.ArrayType(_NUMBER_DP)),
    ])),
    T.StructField("sum", T.StructType([
        T.StructField("dataPoints", T.ArrayType(_NUMBER_DP)),
        T.StructField("aggregationTemporality", T.StringType()),
        T.StructField("isMonotonic", T.BooleanType()),
    ])),
    T.StructField("histogram", T.StructType([
        T.StructField("dataPoints", T.ArrayType(_HIST_DP)),
        T.StructField("aggregationTemporality", T.StringType()),
    ])),
    T.StructField("exponentialHistogram", T.StructType([
        T.StructField("dataPoints", T.ArrayType(_EXP_HIST_DP)),
        T.StructField("aggregationTemporality", T.StringType()),
    ])),
    T.StructField("summary", T.StructType([
        T.StructField("dataPoints", T.ArrayType(_SUMMARY_DP)),
    ])),
])

METRICS_ENVELOPE = T.StructType([
    T.StructField("resourceMetrics", T.ArrayType(T.StructType([
        T.StructField("resource", _RESOURCE),
        T.StructField("scopeMetrics", T.ArrayType(T.StructType([
            T.StructField("scope", _SCOPE),
            T.StructField("metrics", T.ArrayType(_METRIC)),
        ]))),
    ]))),
])

_ENVELOPES = {
    "logs": ("resourceLogs", LOGS_ENVELOPE),
    "traces": ("resourceSpans", TRACES_ENVELOPE),
    "metrics": ("resourceMetrics", METRICS_ENVELOPE),
}


# ---------------------------------------------------------------------------
# Expression helpers (all JVM-side; no Python UDFs anywhere in this module)
# ---------------------------------------------------------------------------

# Column expressions here are name-based and df-independent (they resolve
# at analysis time), but BUILDING them costs thousands of py4j round trips
# — ~10 s for a full flatten, measured — because the recursive AnyValue
# renderer fans out into huge trees. A batch query pays that once; the
# streaming seal used to pay it per micro-batch. So every flatten/parse
# builds its expression stages once per process and reuses them.
_EXPR_CACHE: dict[str, Any] = {}


def _memo(key: str, build):
    got = _EXPR_CACHE.get(key)
    if got is None:
        got = _EXPR_CACHE[key] = build()
    return got


def _json_quote(c: Column) -> Column:
    """Render a string column as a JSON string literal.

    Fast path: values with no characters needing escapes (quotes,
    backslash, control chars) are quoted with a plain concat; only the
    rest pay the Jackson round-trip, ``to_json(array(c))`` minus the
    brackets (a one-field struct wrapper lost its field name in the
    metrics flatten's plan). The renderer runs per attribute value per
    record, so this is hot in the seal."""
    j = F.to_json(F.array(c))
    escaped = j.substr(F.lit(2), F.length(j) - F.lit(2))
    plain = ~c.rlike('["\\\\\x00-\x1f]')
    return (
        F.when(c.isNull(), F.lit("null"))
        .when(plain, F.concat(F.lit('"'), c, F.lit('"')))
        .otherwise(escaped)
    )


def _json_double(c: Column) -> Column:
    """Render a double as JSON: integral values as 'N.0', rest as Spark text."""
    as_long = c.try_cast("long")
    integral = (F.abs(c) < F.lit(9.0e15)) & (c == as_long.cast("double"))
    return (
        F.when(c.isNull() | F.isnan(c), F.lit("null"))
        .when(integral, F.concat(as_long.cast("string"), F.lit(".0")))
        .otherwise(c.cast("string"))
    )


def _any_value_json(v: Column, depth: int = _ANY_VALUE_DEPTH) -> Column:
    """AnyValue struct -> JSON value text (recursively, to fixed depth)."""
    branches = F.when(v.isNull(), F.lit("null"))
    branches = branches.when(v["stringValue"].isNotNull(), _json_quote(v["stringValue"]))
    branches = branches.when(v["boolValue"].isNotNull(),
                             F.when(v["boolValue"], F.lit("true")).otherwise(F.lit("false")))
    branches = branches.when(v["intValue"].isNotNull(),
                             F.coalesce(v["intValue"].try_cast("long").cast("string"),
                                        _json_quote(v["intValue"])))
    branches = branches.when(v["doubleValue"].isNotNull(), _json_double(v["doubleValue"]))
    branches = branches.when(v["bytesValue"].isNotNull(), _json_quote(v["bytesValue"]))
    if depth > 0:
        branches = branches.when(
            v["arrayValue"].isNotNull(),
            F.concat(
                F.lit("["),
                F.concat_ws(",", F.transform(
                    F.coalesce(v["arrayValue"]["values"], F.array()),
                    lambda x: _any_value_json(x, depth - 1))),
                F.lit("]"),
            ),
        )
        branches = branches.when(
            v["kvlistValue"].isNotNull(),
            F.concat(
                F.lit("{"),
                F.concat_ws(",", F.transform(
                    F.coalesce(v["kvlistValue"]["values"], F.array()),
                    lambda e: F.concat(_json_quote(e["key"]), F.lit(":"),
                                       _any_value_json(e["value"], depth - 1)))),
                F.lit("}"),
            ),
        )
    return branches.otherwise(F.lit("null"))


def attrs_to_json(attrs: Column) -> Column:
    """KeyValue list -> JSON object string; NULL list -> '{}'.

    Equivalent of the reference's attributes-as-JSON-VARCHAR encoding
    (reference: site/src/content/docs/reference/schemas.md:181). Keys are
    sorted so the rendering is canonical across input encodings — OTLP
    preserves wire order while OTAP regroups attributes by value type, so
    only a canonical order lets the OTAP↔OTLP differential oracle hold
    (reference: test/sql/read_otap.test:44-79).
    """
    ordered = F.array_sort(
        attrs,
        lambda a, b: F.when(a["key"] < b["key"], -1)
                      .when(a["key"] > b["key"], 1).otherwise(0))
    rendered = F.concat(
        F.lit("{"),
        F.concat_ws(",", F.transform(
            ordered,
            lambda a: F.concat(_json_quote(a["key"]), F.lit(":"), _any_value_json(a["value"])))),
        F.lit("}"),
    )
    return F.when(attrs.isNull(), F.lit("{}")).otherwise(rendered)


def _ns_long(c: Column, what: str) -> Column:
    """u64-nanosecond string/number -> long ns; > i64::MAX is a hard error.

    Mirrors the parse failure in the reference
    (reference: test/sql/read_otlp_timestamp_overflow.test:1-38).

    Hot-path shape: ``try_cast('long')`` (a cheap integer parse) covers
    every in-range value; only values it rejects — non-numeric,
    fractional, or > i64::MAX, all rare — pay the Decimal(38,0) parse
    that distinguishes overflow from garbage. CASE branches evaluate
    lazily in codegen, so well-formed batches never touch decimal."""
    fast = c.try_cast("long")
    dec = c.try_cast(T.DecimalType(38, 0))
    return (
        F.when(c.isNull(), F.lit(None).cast("long"))
        .when(fast.isNotNull(), fast)
        .when(dec.isNull(),
              F.raise_error(F.concat(F.lit(f"OTLP parse error: invalid {what} value '"),
                                     c, F.lit("'"))))
        .when(dec > F.lit(_I64_MAX).cast(T.DecimalType(38, 0)),
              F.raise_error(F.concat(F.lit(f"OTLP parse error: {what} overflows int64: "), c)))
        .otherwise(dec.cast("long"))
    )


def _ns_ts(c: Column, what: str) -> Column:
    """u64-nanosecond value -> TimestampNTZ (µs precision, ns truncated).

    The ns -> µs division must be exact above 2^53, so it cannot run in
    double; long -> decimal is a cheap widening (no string parse), only
    the original string -> decimal parse was hot."""
    dec_us = _ns_long(c, what).cast(T.DecimalType(38, 0)) / F.lit(1000)
    us = F.floor(dec_us).try_cast("long")
    return F.timestamp_micros(us).cast(T.TimestampNTZType())


def _ns_suspect(c: Column) -> Column:
    """True when a u64-ns field is non-numeric or overflows int64.
    Long-first like :func:`_ns_long`: anything try_cast('long') accepts
    is in range, so the decimal parse only runs on its rejects."""
    dec = c.try_cast(T.DecimalType(38, 0))
    return (F.when(c.isNull() | c.try_cast("long").isNotNull(), F.lit(False))
            .otherwise(dec.isNull() |
                       (dec > F.lit(_I64_MAX).cast(T.DecimalType(38, 0)))))


def _validated(arr: Column, ns_fields: list[str]) -> Column:
    """Wrap a record array so ns-timestamp validation runs even when the
    timestamp output columns are pruned (COUNT(*) must still fail on
    overflow, like the reference's parse-time error —
    reference: test/sql/read_otlp_timestamp_overflow.test)."""
    def check(r: Column) -> Column:
        bad = F.lit(False)
        for f in ns_fields:
            bad = bad | _ns_suspect(r[f])
        return F.when(
            bad,
            F.raise_error(F.concat(
                F.lit("OTLP parse error: timestamp overflows int64 range: "),
                F.coalesce(*[r[f] for f in ns_fields], F.lit("?"))))
        ).otherwise(r)
    return F.transform(arr, check)


def _hex_id(c: Column) -> Column:
    """Id bytes hex -> lowercase hex string; empty -> NULL
    (reference: src/otlp_arrow.cpp:368-403)."""
    return F.nullif(F.lower(c), F.lit(""))


def _uint32(c: Column, default: int | None = 0) -> Column:
    """u32-ish string/number -> IntegerType with proto3 default for missing."""
    out = c.try_cast("long").try_cast("int")
    if default is None:
        return out
    return F.coalesce(out, F.lit(default).cast("int"))


_ENUM_MAPS = {
    "kind": {"SPAN_KIND_UNSPECIFIED": 0, "SPAN_KIND_INTERNAL": 1, "SPAN_KIND_SERVER": 2,
             "SPAN_KIND_CLIENT": 3, "SPAN_KIND_PRODUCER": 4, "SPAN_KIND_CONSUMER": 5},
    "status_code": {"STATUS_CODE_UNSET": 0, "STATUS_CODE_OK": 1, "STATUS_CODE_ERROR": 2},
    "temporality": {"AGGREGATION_TEMPORALITY_UNSPECIFIED": 0,
                    "AGGREGATION_TEMPORALITY_DELTA": 1,
                    "AGGREGATION_TEMPORALITY_CUMULATIVE": 2},
}


def _enum_int(c: Column, mapping: dict[str, int], default: int | None = 0) -> Column:
    """proto3 JSON enum (name string or number) -> IntegerType.

    Numeric-first: exporters overwhelmingly send the number form, and the
    branch chain over the name strings (24 deep for severity) would
    otherwise run string-compares on every record before falling through
    to the cast it needed all along."""
    num = c.try_cast("long").try_cast("int")
    by_name: Column = F.lit(None).cast("int")
    for name, n in mapping.items():
        by_name = F.when(c == name, F.lit(n)).otherwise(by_name)
    out = F.when(num.isNotNull(), num).otherwise(by_name)
    if default is not None:
        out = F.coalesce(out, F.lit(default))
    return out.cast("int")


_SEVERITY_NAMES = {
    f"SEVERITY_NUMBER_{name}{n}" if n else f"SEVERITY_NUMBER_{name}": base + (n or 1) - 1
    for name, base in (("TRACE", 1), ("DEBUG", 5), ("INFO", 9), ("WARN", 13),
                       ("ERROR", 17), ("FATAL", 21))
    for n in (0, 2, 3, 4)
}


def _severity_number(c: Column) -> Column:
    """severityNumber -> INTEGER; 0/unspecified -> NULL
    (reference: test/sql/read_otlp_edge_cases.test:42-48)."""
    num = _enum_int(c, _SEVERITY_NAMES, default=None)
    return F.nullif(num, F.lit(0))


def _body_text(v: Column) -> Column:
    """Log body AnyValue -> VARCHAR: plain text for strings, JSON otherwise."""
    rendered = _any_value_json(v)
    return (
        F.when(v.isNull(), F.lit(None).cast("string"))
        .when(v["stringValue"].isNotNull(), v["stringValue"])
        .when(rendered == "null", F.lit(None).cast("string"))
        .otherwise(rendered)
    )


def _events_json(events: Column) -> Column:
    body = F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(events, lambda e: F.concat(
            F.lit('{"time_unix_nano":'),
            F.coalesce(e["timeUnixNano"].try_cast("long").cast("string"), F.lit("null")),
            F.lit(',"name":'), _json_quote(e["name"]),
            F.lit(',"attributes":'), attrs_to_json(e["attributes"]),
            F.lit(',"dropped_attributes_count":'),
            F.coalesce(e["droppedAttributesCount"].try_cast("long").cast("string"), F.lit("0")),
            F.lit("}")))),
        F.lit("]"),
    )
    return F.when(events.isNull(), F.lit("[]")).otherwise(body)


def _links_json(links: Column) -> Column:
    body = F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(links, lambda l: F.concat(
            F.lit('{"trace_id":'), F.coalesce(_json_quote(_hex_id(l["traceId"])), F.lit("null")),
            F.lit(',"span_id":'), F.coalesce(_json_quote(_hex_id(l["spanId"])), F.lit("null")),
            F.lit(',"trace_state":'), _json_quote(l["traceState"]),
            F.lit(',"attributes":'), attrs_to_json(l["attributes"]),
            F.lit(',"dropped_attributes_count":'),
            F.coalesce(l["droppedAttributesCount"].try_cast("long").cast("string"), F.lit("0")),
            F.lit("}")))),
        F.lit("]"),
    )
    return F.when(links.isNull(), F.lit("[]")).otherwise(body)


def _resource_attr(resource: Column, key: str) -> Column:
    """Extract one resource attribute's stringValue (service.name etc.)."""
    matches = F.filter(
        F.coalesce(resource["attributes"], F.array().cast(_ATTRS)),
        lambda a: a["key"] == key,
    )
    return F.get(matches, 0)["value"]["stringValue"]


# ---------------------------------------------------------------------------
# File -> envelope rows
# ---------------------------------------------------------------------------

def _decoded_envelopes(spark: SparkSession, paths: list[str],
                       signal: str) -> DataFrame:
    """Binary scan -> (``env`` typed struct, ``value`` JSON text) rows.

    ``binaryFile`` keeps the reference's parallelism unit — one file per
    task, never split (reference: read_otlp.cpp:62-77) — and the decode
    runs executor-side in ``mapInArrow``. Per-file routing (FORMAT AUTO):

    - protobuf payloads go through the pure-Python proto3 wire decoder
      and come back as ONE typed Arrow struct matching the signal schema
      (the decoders emit schema-exact leaves, so ``pa.array`` converts
      directly — a single parse, no JSON text render, no second
      ``from_json`` pass);
    - JSON payloads pass through as text (document or NDJSON, detected
      per file) in the ``value`` column for the JVM's Jackson parse —
      Python re-serializing text the JVM parses faster would be a loss.

    The caller coalesces the two columns, so downstream flatten plans,
    pruning, and codegen are unchanged either way.
    """
    from duckdb_otlp_spark.sources import otlp_proto

    files = spark.read.format("binaryFile").load(paths).select("path", "length", "content")
    _, env_schema = _ENVELOPES[signal]
    out_schema = T.StructType([T.StructField("env", env_schema),
                               T.StructField("value", T.StringType())])
    # bound at plan-build time so the closure ships the value (a module
    # global would re-resolve on the worker, ignoring driver-side
    # monkeypatches — the tests rely on this capture)
    doc_cap = MAX_WHOLE_DOC_TYPED_BYTES

    def decode(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type
        env_type = to_arrow_type(env_schema)
        for batch in batches:
            envs: list = []
            lines: list = []
            for fpath, length, content in zip(batch.column(0).to_pylist(),
                                              batch.column(1).to_pylist(),
                                              batch.column(2).to_pylist()):
                if length > MAX_READ_FILE_BYTES:
                    raise ValueError(
                        f"OTLP read error: file exceeds {MAX_READ_FILE_BYTES} "
                        f"byte limit: {fpath}")
                b = bytes(content)
                if not b:
                    continue  # empty file -> 0 rows (reference parity)
                if not b.lstrip(b"\xef\xbb\xbf").strip():
                    raise ValueError(f"OTLP parse error: whitespace-only file: {fpath}")
                if otlp_proto.looks_like_json(b):
                    text = b.decode("utf-8")
                    json_lines = [ln for ln in text.split("\n") if ln.strip()]

                    def route_doc(doc: str) -> None:
                        # oversized document (whole file or one NDJSON
                        # line): ONE from_json row is the same heap
                        # cliff slice_envelope fixes for pb — parse
                        # executor-side and emit bounded typed rows;
                        # parse/spine/shape failures fall back to the
                        # JVM so the error contract is size-blind
                        parts = None
                        if len(doc) > doc_cap:
                            jenv = _typed_doc_envelope(doc, signal)
                            if jenv is not None:
                                try:
                                    parts = [
                                        _conform_to_schema(p, env_schema,
                                                           strict=True)
                                        for p in slice_envelope(jenv, signal)]
                                except (ValueError, TypeError,
                                        AttributeError, KeyError,
                                        OverflowError):
                                    parts = None  # JVM owns malformed shapes
                        if parts is None:
                            lines.append(doc)
                            envs.append(None)
                        else:
                            envs.extend(parts)
                            lines.extend([None] * len(parts))

                    if _is_ndjson(json_lines):
                        for ln in json_lines:
                            if len(ln) > doc_cap:
                                route_doc(ln)
                            else:
                                lines.append(ln)
                                envs.append(None)
                    else:
                        route_doc(text)  # whole (possibly pretty) document
                else:
                    try:
                        decoded = otlp_proto.DECODERS[signal](b)
                    except ValueError as e:
                        raise ValueError(
                            f"OTLP parse error: invalid protobuf payload "
                            f"({e}): {fpath}") from e
                    # oversized envelopes slice into bounded rows — one
                    # giant envelope otherwise becomes one giant JVM
                    # struct row (heap cliff; see slice_envelope)
                    before = len(envs)
                    envs.extend(slice_envelope(decoded, signal))
                    lines.extend([None] * (len(envs) - before))
            yield pa.RecordBatch.from_arrays(
                [pa.array(envs, type=env_type),
                 pa.array(lines, type=pa.string())], ["env", "value"])

    from duckdb_otlp_spark.session import ensure_package_on_workers
    ensure_package_on_workers(files.sparkSession)
    return files.mapInArrow(decode, out_schema)


def _checked_env_select(df: DataFrame, signal: str,
                        typed: bool = False) -> DataFrame:
    """ONE-parse error-checked envelope projection over a ``value``
    text column.

    ``from_json`` parses each line exactly once with a
    ``columnNameOfCorruptRecord`` capture field riding the same Jackson
    pass; the parse is LET-BOUND via a single-element ``transform``
    (the HOF lambda references the parsed struct without re-evaluating
    it), so the error contract (invalid-JSON vs wrong-envelope, with
    the 120-char excerpt) is raised off the parsed struct inside ONE
    projection. Measured against the alternatives on both input
    shapes (1M-line NDJSON / 1024 10 MB whole-document envelopes,
    local[32]): the old ``try_parse_json`` + CASE-duplicated-parse form
    ran 6.9s / 124s, a two-select staged form 4.5s / 368s (the parsed
    struct crossing the projection boundary re-copies multi-MB rows),
    this form 3.3s / 97.5s — the only formulation that wins on both.

    With ``typed=True``, rows whose ``value`` is null pass their typed
    ``env`` column through untouched (the protobuf rows of the auto
    path) and skip the checks entirely.
    """
    field, env_schema = _ENVELOPES[signal]

    def build():
        aug = T.StructType(list(env_schema.fields)
                           + [T.StructField("__corrupt", T.StringType())])
        line = F.col("value")
        parsed = F.from_json(line, aug,
                             {"columnNameOfCorruptRecord": "__corrupt"})
        excerpt = F.substring(line, 1, 120)
        # The corrupt capture fires on ANY conversion failure, not just
        # malformed JSON — a valid line with a wrong-shaped envelope
        # (e.g. {"resourceLogs": 5}) must classify as an envelope error,
        # not as invalid JSON. The second parse runs only on corrupt
        # rows (codegen And short-circuits), so the hot path stays
        # single-parse.
        checked = F.get(F.transform(F.array(parsed), lambda p: (
            F.when(p["__corrupt"].isNotNull()
                   & F.try_parse_json(line).isNull(),
                   F.raise_error(F.concat(
                       F.lit("OTLP parse error: invalid JSON: "),
                       excerpt)))
            .when(p[field].isNull(),
                  F.raise_error(F.concat(
                      F.lit(f"OTLP parse error: expected '{field}' envelope: "),
                      excerpt)))
            .otherwise(p.dropFields("__corrupt")))), 0)
        return checked

    checked = _memo(f"checked_env_{signal}", build)
    if typed:
        env = (F.when(F.col("value").isNull(), F.col("env"))
               .otherwise(checked))
    else:
        env = checked
    return df.select(env.alias("env"))


def _is_ndjson(lines: list[str]) -> bool:
    """NDJSON iff some single line is a complete JSON object on its own;
    a pretty-printed document's lines never are (opener is a bare '{')."""
    import json as _json
    for ln in lines:
        s = ln.strip()
        if s.startswith("{"):
            try:
                _json.loads(s)
                return True
            except ValueError:
                continue
    return False


def _load_envelopes(spark: SparkSession, path: str | list[str], signal: str,
                    mode: str = "auto") -> DataFrame:
    """Read file(s) -> one row per OTLP envelope (column ``env``).

    ``mode='auto'``: binary whole-file read, per-file protobuf vs JSON vs
    NDJSON auto-detection, 100 MB cap — reference parity
    (reference: src/function/read_otlp.cpp:417-439).
    ``mode='lines'``: splittable line reader for large NDJSON (scale path).
    """
    paths = path if isinstance(path, list) else [path]
    if mode == "lines":
        lines = spark.read.text(paths).filter(F.trim(F.col("value")) != "")
        return _checked_env_select(lines, signal)
    if mode != "auto":
        raise ValueError(f"unknown read mode {mode!r}")
    # protobuf files arrive as typed structs (env), JSON files as text
    # (value) — parse the text rows once JVM-side, pass the typed rows
    # through
    rows = _decoded_envelopes(spark, paths, signal)
    return _checked_env_select(rows, signal, typed=True)


# ---------------------------------------------------------------------------
# Public readers
# ---------------------------------------------------------------------------

_MODES = ("auto", "protobuf", "lines")


def _read(spark: SparkSession, path, mode: str, key: str) -> DataFrame:
    """Read table ``key`` in ``mode``. Protobuf inputs take the
    executor-side flat decode (``flat_decode.read_flat``, measured ~3x
    the envelope + JVM-flatten route on the 1M-record pb bench corpus,
    r14): ``mode='protobuf'`` always, ``mode='auto'`` when a bounded
    driver-side head sniff proves every input file is protobuf. JSON,
    NDJSON and mixed or oversized listings take the envelope plan and
    the JVM flatten (``FLATTEN``)."""
    from duckdb_otlp_spark.sources import flat_decode

    if mode not in _MODES:
        raise ValueError(f"unknown read mode {mode!r}; expected one of {_MODES}")
    if mode == "protobuf" or (mode == "auto"
                              and flat_decode.all_protobuf(spark, path)):
        return flat_decode.read_flat(spark, path, key, "protobuf")
    signal = flat_decode.FLATTENERS[key][1]
    return FLATTEN[key](_load_envelopes(spark, path, signal, mode))


def read_otlp_logs(spark: SparkSession, path: str | list[str], mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_logs`` (reference: src/function/read_otlp.cpp:139-142)."""
    return _read(spark, path, mode, "logs")


def flatten_logs(env: DataFrame) -> DataFrame:
    """Envelope rows (column ``env``) -> 18-col logs table. The live
    seal runs it on the spooled lines the executor-side flattener
    refuses (sources/flat_decode).

    Resource/scope-derived columns (service_* extraction and the two
    attrs-JSON renders) are computed BEFORE the record explode: they are
    constant per scope, and rendering them per log record multiplies the
    most expensive expressions in the plan by the batch size."""
    def build():
        r = F.col("r")
        scope_stage = [
            _resource_attr(F.col("resource"), "service.name").alias("service_name"),
            _resource_attr(F.col("resource"), "service.namespace").alias("service_namespace"),
            _resource_attr(F.col("resource"), "service.instance.id").alias("service_instance_id"),
            attrs_to_json(F.col("resource")["attributes"]).alias("resource_attributes"),
            F.col("sl.scope")["name"].alias("scope_name"),
            F.col("sl.scope")["version"].alias("scope_version"),
            attrs_to_json(F.col("sl.scope")["attributes"]).alias("scope_attributes"),
            F.explode(_validated(F.col("sl.logRecords"),
                                 ["timeUnixNano", "observedTimeUnixNano"])).alias("r")]
        final_stage = [
            _ns_ts(r["timeUnixNano"], "timeUnixNano").alias("time_unix_nano"),
            _ns_ts(r["observedTimeUnixNano"],
                   "observedTimeUnixNano").alias("observed_time_unix_nano"),
            _hex_id(r["traceId"]).alias("trace_id"),
            _hex_id(r["spanId"]).alias("span_id"),
            F.col("service_name"),
            F.col("service_namespace"),
            F.col("service_instance_id"),
            _severity_number(r["severityNumber"]).alias("severity_number"),
            r["severityText"].alias("severity_text"),
            r["eventName"].alias("event_name"),
            _body_text(r["body"]).alias("body"),
            F.col("resource_attributes"),
            F.col("scope_name"),
            F.col("scope_version"),
            F.col("scope_attributes"),
            attrs_to_json(r["attributes"]).alias("log_attributes"),
            _uint32(r["droppedAttributesCount"]).alias("dropped_attributes_count"),
            _uint32(r["flags"]).alias("flags")]
        return scope_stage, final_stage

    scope_stage, final_stage = _memo("flatten_logs", build)
    return (
        env.select(F.explode("env.resourceLogs").alias("rl"))
        .select(F.col("rl.resource").alias("resource"), F.explode("rl.scopeLogs").alias("sl"))
        .select(*scope_stage)
        .select(*final_stage)
    )


def read_otlp_traces(spark: SparkSession, path: str | list[str], mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_traces`` (reference: src/function/read_otlp.cpp:144-147).

    ``duration_time_unix_nano`` = end − start in raw ns
    (reference: test/sql/read_otlp_json.test:55-60).
    """
    return _read(spark, path, mode, "traces")


def flatten_traces(env: DataFrame) -> DataFrame:
    """Envelope rows -> 24-col traces table. Resource/scope-derived
    columns are rendered before the span explode (constant per scope —
    see flatten_logs)."""
    def build():
        s = F.col("s")
        start_ns = _ns_long(s["startTimeUnixNano"], "startTimeUnixNano")
        end_ns = _ns_long(s["endTimeUnixNano"], "endTimeUnixNano")
        scope_stage = [
            _resource_attr(F.col("resource"), "service.name").alias("service_name"),
            _resource_attr(F.col("resource"), "service.namespace").alias("service_namespace"),
            _resource_attr(F.col("resource"), "service.instance.id").alias("service_instance_id"),
            attrs_to_json(F.col("resource")["attributes"]).alias("resource_attributes"),
            F.col("ss.scope")["name"].alias("scope_name"),
            F.col("ss.scope")["version"].alias("scope_version"),
            attrs_to_json(F.col("ss.scope")["attributes"]).alias("scope_attributes"),
            F.explode(_validated(F.col("ss.spans"),
                                 ["startTimeUnixNano", "endTimeUnixNano"])).alias("s")]
        final_stage = [
            _ns_ts(s["startTimeUnixNano"], "startTimeUnixNano").alias("start_time_unix_nano"),
            (F.coalesce(end_ns, F.lit(0)) - F.coalesce(start_ns, F.lit(0)))
            .alias("duration_time_unix_nano"),
            _hex_id(s["traceId"]).alias("trace_id"),
            _hex_id(s["spanId"]).alias("span_id"),
            _hex_id(s["parentSpanId"]).alias("parent_span_id"),
            s["traceState"].alias("trace_state"),
            F.col("service_name"),
            F.col("service_namespace"),
            F.col("service_instance_id"),
            s["name"].alias("name"),
            _enum_int(s["kind"], _ENUM_MAPS["kind"]).alias("kind"),
            _enum_int(s["status"]["code"], _ENUM_MAPS["status_code"]).alias("status_code"),
            s["status"]["message"].alias("status_status_message"),
            F.col("resource_attributes"),
            F.col("scope_name"),
            F.col("scope_version"),
            F.col("scope_attributes"),
            attrs_to_json(s["attributes"]).alias("span_attributes"),
            _events_json(s["events"]).alias("events_json"),
            _links_json(s["links"]).alias("links_json"),
            _uint32(s["droppedAttributesCount"]).alias("dropped_attributes_count"),
            _uint32(s["droppedEventsCount"]).alias("dropped_events_count"),
            _uint32(s["droppedLinksCount"]).alias("dropped_links_count"),
            _uint32(s["flags"]).alias("flags")]
        return scope_stage, final_stage

    scope_stage, final_stage = _memo("flatten_traces", build)
    return (
        env.select(F.explode("env.resourceSpans").alias("rs"))
        .select(F.col("rs.resource").alias("resource"), F.explode("rs.scopeSpans").alias("ss"))
        .select(*scope_stage)
        .select(*final_stage)
    )


def _exemplars_json(ex: Column) -> Column:
    body = F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(ex, lambda e: F.concat(
            F.lit('{"time_unix_nano":'),
            F.coalesce(e["timeUnixNano"].try_cast("long").cast("string"), F.lit("null")),
            F.lit(',"value":'),
            F.when(e["asDouble"].isNotNull(), _json_double(e["asDouble"]))
            .otherwise(F.coalesce(e["asInt"].try_cast("long").cast("string"), F.lit("null"))),
            F.lit(',"span_id":'), F.coalesce(_json_quote(_hex_id(e["spanId"])), F.lit("null")),
            F.lit(',"trace_id":'), F.coalesce(_json_quote(_hex_id(e["traceId"])), F.lit("null")),
            F.lit("}")))),
        F.lit("]"),
    )
    return F.when(ex.isNull(), F.lit("[]")).otherwise(body)


def _metric_records(env: DataFrame) -> DataFrame:
    """Shared metrics fan-out: one row per (resource, scope, metric).

    The reference parses a metrics payload once and fans out to up to four
    shape-specific batches (reference: src/function/read_otlp.cpp:261-304);
    here each typed reader selects its shape from this common exploded view
    and Catalyst prunes the untouched shapes out of the JSON parse.
    """
    def build():
        # resource/scope-derived columns render ONCE per scope, not
        # per data point (see flatten_logs)
        return [
            _resource_attr(F.col("resource"), "service.name").alias("service_name"),
            _resource_attr(F.col("resource"), "service.namespace").alias("service_namespace"),
            _resource_attr(F.col("resource"), "service.instance.id").alias("service_instance_id"),
            attrs_to_json(F.col("resource")["attributes"]).alias("resource_attributes"),
            F.col("sm.scope")["name"].alias("scope_name"),
            F.col("sm.scope")["version"].alias("scope_version"),
            attrs_to_json(F.col("sm.scope")["attributes"]).alias("scope_attributes"),
            F.explode("sm.metrics").alias("m")]

    return (
        env.select(F.explode("env.resourceMetrics").alias("rm"))
        .select(F.col("rm.resource").alias("resource"), F.explode("rm.scopeMetrics").alias("sm"))
        .select(*_memo("metric_records", build))
    )


_SCOPED_COLS = ["service_name", "service_namespace", "service_instance_id",
                "resource_attributes", "scope_name", "scope_version",
                "scope_attributes"]


def _metric_common_cols(dp: Column, m: Column) -> dict[str, Column]:
    return {
        "time_unix_nano": _ns_ts(dp["timeUnixNano"], "timeUnixNano"),
        "start_time_unix_nano": _ns_ts(dp["startTimeUnixNano"], "startTimeUnixNano"),
        "name": m["name"],
        "description": m["description"],
        "unit": m["unit"],
        "service_name": F.col("service_name"),
        "service_namespace": F.col("service_namespace"),
        "service_instance_id": F.col("service_instance_id"),
        "resource_attributes": F.col("resource_attributes"),
        "scope_name": F.col("scope_name"),
        "scope_version": F.col("scope_version"),
        "scope_attributes": F.col("scope_attributes"),
        "metric_attributes": attrs_to_json(dp["attributes"]),
        "flags": _uint32(dp["flags"]),
        "exemplars_json": _exemplars_json(dp["exemplars"]),
    }


def _number_point_cols(dp: Column) -> dict[str, Column]:
    # Exactly one of int_value / double_value is non-NULL per row
    # (reference: site/.../reference/schemas.md:91-92).
    return {
        "int_value": dp["asInt"].try_cast("long"),
        "double_value": dp["asDouble"],
    }


def read_otlp_metrics_gauge(spark: SparkSession, path: str | list[str],
                            mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_gauge`` (reference: read_otlp.cpp:149-152)."""
    return _read(spark, path, mode, "metrics_gauge")


def flatten_metrics_gauge(env: DataFrame) -> DataFrame:
    def build():
        dp, m = F.col("dp"), F.col("m")
        c = _metric_common_cols(dp, m)
        n = _number_point_cols(dp)
        explode_stage = [*_SCOPED_COLS, "m",
                         F.explode(_validated(F.col("m.gauge.dataPoints"),
                                   ["timeUnixNano", "startTimeUnixNano"])).alias("dp")]
        final_stage = [
            c["time_unix_nano"].alias("time_unix_nano"),
            c["start_time_unix_nano"].alias("start_time_unix_nano"),
            c["name"].alias("name"), c["description"].alias("description"),
            c["unit"].alias("unit"),
            n["int_value"].alias("int_value"), n["double_value"].alias("double_value"),
            c["service_name"].alias("service_name"),
            c["service_namespace"].alias("service_namespace"),
            c["service_instance_id"].alias("service_instance_id"),
            c["resource_attributes"].alias("resource_attributes"),
            c["scope_name"].alias("scope_name"), c["scope_version"].alias("scope_version"),
            c["scope_attributes"].alias("scope_attributes"),
            c["metric_attributes"].alias("metric_attributes"),
            c["flags"].alias("flags"), c["exemplars_json"].alias("exemplars_json")]
        return F.col("m.gauge").isNotNull(), explode_stage, final_stage

    cond, explode_stage, final_stage = _memo("flatten_metrics_gauge", build)
    return (_metric_records(env).filter(cond)
            .select(*explode_stage).select(*final_stage))


def read_otlp_metrics_sum(spark: SparkSession, path: str | list[str],
                          mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_sum`` (reference: read_otlp.cpp:154-157)."""
    return _read(spark, path, mode, "metrics_sum")


def flatten_metrics_sum(env: DataFrame) -> DataFrame:
    def build():
        dp, m = F.col("dp"), F.col("m")
        c = _metric_common_cols(dp, m)
        n = _number_point_cols(dp)
        explode_stage = [*_SCOPED_COLS, "m",
                         F.explode(_validated(F.col("m.sum.dataPoints"),
                                   ["timeUnixNano", "startTimeUnixNano"])).alias("dp")]
        final_stage = [
            c["time_unix_nano"].alias("time_unix_nano"),
            c["start_time_unix_nano"].alias("start_time_unix_nano"),
            c["name"].alias("name"), c["description"].alias("description"),
            c["unit"].alias("unit"),
            n["int_value"].alias("int_value"), n["double_value"].alias("double_value"),
            c["service_name"].alias("service_name"),
            c["service_namespace"].alias("service_namespace"),
            c["service_instance_id"].alias("service_instance_id"),
            c["resource_attributes"].alias("resource_attributes"),
            c["scope_name"].alias("scope_name"), c["scope_version"].alias("scope_version"),
            c["scope_attributes"].alias("scope_attributes"),
            c["metric_attributes"].alias("metric_attributes"),
            c["flags"].alias("flags"), c["exemplars_json"].alias("exemplars_json"),
            _enum_int(m["sum"]["aggregationTemporality"], _ENUM_MAPS["temporality"])
            .alias("aggregation_temporality"),
            F.coalesce(m["sum"]["isMonotonic"], F.lit(False)).alias("is_monotonic")]
        return F.col("m.sum").isNotNull(), explode_stage, final_stage

    cond, explode_stage, final_stage = _memo("flatten_metrics_sum", build)
    return (_metric_records(env).filter(cond)
            .select(*explode_stage).select(*final_stage))


def read_otlp_metrics_histogram(spark: SparkSession, path: str | list[str],
                                mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_histogram`` (reference: read_otlp.cpp:177-181)."""
    return _read(spark, path, mode, "metrics_histogram")


def flatten_metrics_histogram(env: DataFrame) -> DataFrame:
    def build():
        dp, m = F.col("dp"), F.col("m")
        c = _metric_common_cols(dp, m)
        explode_stage = [*_SCOPED_COLS, "m",
                         F.explode(_validated(F.col("m.histogram.dataPoints"),
                                   ["timeUnixNano", "startTimeUnixNano"])).alias("dp")]
        final_stage = [
            c["time_unix_nano"].alias("time_unix_nano"),
            c["start_time_unix_nano"].alias("start_time_unix_nano"),
            c["name"].alias("name"), c["description"].alias("description"),
            c["unit"].alias("unit"),
            dp["count"].try_cast("long").alias("count"),
            dp["sum"].alias("sum"), dp["min"].alias("min"), dp["max"].alias("max"),
            F.transform(dp["bucketCounts"], lambda x: x.try_cast("long")).alias("bucket_counts"),
            dp["explicitBounds"].alias("explicit_bounds"),
            c["service_name"].alias("service_name"),
            c["service_namespace"].alias("service_namespace"),
            c["service_instance_id"].alias("service_instance_id"),
            c["resource_attributes"].alias("resource_attributes"),
            c["scope_name"].alias("scope_name"), c["scope_version"].alias("scope_version"),
            c["scope_attributes"].alias("scope_attributes"),
            c["metric_attributes"].alias("metric_attributes"),
            c["flags"].alias("flags"), c["exemplars_json"].alias("exemplars_json"),
            _enum_int(m["histogram"]["aggregationTemporality"], _ENUM_MAPS["temporality"])
            .alias("aggregation_temporality")]
        return F.col("m.histogram").isNotNull(), explode_stage, final_stage

    cond, explode_stage, final_stage = _memo("flatten_metrics_histogram", build)
    return (_metric_records(env).filter(cond)
            .select(*explode_stage).select(*final_stage))


def read_otlp_metrics_exp_histogram(spark: SparkSession, path: str | list[str],
                                    mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_exp_histogram`` (reference: read_otlp.cpp:183-188)."""
    return _read(spark, path, mode, "metrics_exp_histogram")


def flatten_metrics_exp_histogram(env: DataFrame) -> DataFrame:
    def build():
        dp, m = F.col("dp"), F.col("m")
        c = _metric_common_cols(dp, m)
        explode_stage = [*_SCOPED_COLS, "m",
                         F.explode(_validated(F.col("m.exponentialHistogram.dataPoints"),
                                   ["timeUnixNano", "startTimeUnixNano"])).alias("dp")]
        final_stage = [
            c["time_unix_nano"].alias("time_unix_nano"),
            c["start_time_unix_nano"].alias("start_time_unix_nano"),
            c["name"].alias("name"), c["description"].alias("description"),
            c["unit"].alias("unit"),
            dp["count"].try_cast("long").alias("count"),
            dp["sum"].alias("sum"), dp["min"].alias("min"), dp["max"].alias("max"),
            _uint32(dp["scale"]).alias("scale"),
            F.coalesce(dp["zeroCount"].try_cast("long"), F.lit(0)).alias("zero_count"),
            dp["zeroThreshold"].alias("zero_threshold"),
            _uint32(dp["positive"]["offset"]).alias("positive_offset"),
            F.coalesce(F.transform(dp["positive"]["bucketCounts"],
                                   lambda x: x.try_cast("long")),
                       F.array().cast("array<long>")).alias("positive_bucket_counts"),
            _uint32(dp["negative"]["offset"]).alias("negative_offset"),
            F.coalesce(F.transform(dp["negative"]["bucketCounts"],
                                   lambda x: x.try_cast("long")),
                       F.array().cast("array<long>")).alias("negative_bucket_counts"),
            c["service_name"].alias("service_name"),
            c["service_namespace"].alias("service_namespace"),
            c["service_instance_id"].alias("service_instance_id"),
            c["resource_attributes"].alias("resource_attributes"),
            c["scope_name"].alias("scope_name"), c["scope_version"].alias("scope_version"),
            c["scope_attributes"].alias("scope_attributes"),
            c["metric_attributes"].alias("metric_attributes"),
            c["flags"].alias("flags"), c["exemplars_json"].alias("exemplars_json"),
            _enum_int(m["exponentialHistogram"]["aggregationTemporality"],
                      _ENUM_MAPS["temporality"])
            .alias("aggregation_temporality")]
        return F.col("m.exponentialHistogram").isNotNull(), explode_stage, final_stage

    cond, explode_stage, final_stage = _memo("flatten_metrics_exp_histogram", build)
    return (_metric_records(env).filter(cond)
            .select(*explode_stage).select(*final_stage))


def read_otlp_metrics(spark: SparkSession, path: str | list[str], mode: str = "auto") -> DataFrame:
    """Registered placeholder that raises, matching the reference
    (reference: src/function/read_otlp.cpp:160-175)."""
    raise NotImplementedError(
        "read_otlp_metrics (union schema) is not implemented; use the typed readers "
        "read_otlp_metrics_{gauge,sum,histogram,exp_histogram}")


def read_otlp_metrics_summary(spark: SparkSession, path: str | list[str],
                              mode: str = "auto") -> DataFrame:
    """Registered placeholder that raises, matching the reference
    (reference: src/function/read_otlp.cpp:160-175)."""
    raise NotImplementedError(
        "read_otlp_metrics_summary is not implemented; summary data points are "
        "skipped by the typed readers")


def envelopes_from_lines(lines: DataFrame, signal: str,
                         drop_observation=None) -> DataFrame:
    """Raw NDJSON lines (column ``value``) -> envelope rows (column ``env``).

    The streaming seal's route for lines the executor-side flattener
    refuses (sources/flat_decode.seal_files). Lax: malformed lines
    are dropped instead of failing the batch (receiver-side
    skip-and-count semantics, reference: src/otlp_server.cpp:699-702).
    Pass ``drop_observation`` (a ``pyspark.sql.Observation``) to count
    the dropped lines as metric ``malformed`` — the observe node sits
    between the parse and the keep-filter, so the count rides the
    seal's own job with no second parse and no extra action.
    """
    def build():
        field, env_schema = _ENVELOPES[signal]
        parsed = F.from_json(F.col("value"), env_schema)
        nonblank = F.trim(F.col("value")) != ""
        return (nonblank, parsed.alias("env"),
                F.col("env")[field].isNotNull())

    nonblank, lax_env, lax_keep = _memo(f"env_lines_{signal}", build)
    parsed = lines.filter(nonblank).select(lax_env)
    if drop_observation is not None:
        parsed = parsed.observe(
            drop_observation,
            F.coalesce(F.sum(F.when(~lax_keep, F.lit(1)).otherwise(F.lit(0))),
                       F.lit(0)).alias("malformed"))
    return parsed.filter(lax_keep)


FLATTEN = {
    "logs": flatten_logs,
    "traces": flatten_traces,
    "metrics_gauge": flatten_metrics_gauge,
    "metrics_sum": flatten_metrics_sum,
    "metrics_histogram": flatten_metrics_histogram,
    "metrics_exp_histogram": flatten_metrics_exp_histogram,
}

READERS = {
    "logs": read_otlp_logs,
    "traces": read_otlp_traces,
    "metrics_gauge": read_otlp_metrics_gauge,
    "metrics_sum": read_otlp_metrics_sum,
    "metrics_histogram": read_otlp_metrics_histogram,
    "metrics_exp_histogram": read_otlp_metrics_exp_histogram,
}
