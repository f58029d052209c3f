"""OTLP/JSON + JSONL file readers for the six signal tables.

Spark-first re-expression of the reference's ``read_otlp_*`` table
functions (reference: src/function/read_otlp.cpp:467-507). The reference
parses whole files once in Rust and emits Arrow. Here every route
ends in the one Python flattener (``flat_decode``); only the parse
differs:

- protobuf inputs (``mode='protobuf'``, or ``mode='auto'`` when every
  file sniffs as protobuf) are decoded and flattened executor-side in
  one ``mapInArrow`` (``flat_decode.read_flat``), the route the OTAP
  readers and ``format("otlp"/"otap")`` share;
- JSON, NDJSON and mixed listings parse JVM-side with ``from_json``
  (below), whose lax partial results (a mistyped field reads as NULL,
  the rows flow) and error classes stay the contract; the parsed
  envelopes then go to the flattener (``flat_decode.flatten_parsed``).

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

from pyspark.sql import DataFrame, SparkSession
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
    schema-exact trees and keep the lenient default, as does
    ``to_json`` text of parsed envelopes, whose NaN and infinities
    arrive as strings and become doubles again."""
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
            if strict:
                if v is not None and type(v) is not float:
                    fail("number", v)
            elif type(v) is str:
                return float(v)      # to_json's "NaN" / "Infinity" text
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


# Column expressions are name-based and df-independent (they resolve at
# analysis time), but BUILDING them costs py4j round trips per node, so
# each parse builds its expressions once per process and reuses them.
_EXPR_CACHE: dict[str, Any] = {}


def _memo(key: str, build):
    got = _EXPR_CACHE.get(key)
    if got is None:
        got = _EXPR_CACHE[key] = build()
    return got


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

    The caller coalesces the two columns, so one flatten serves both.
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
    NDJSON and mixed or oversized listings take the envelope plan
    (``from_json``) and ``flat_decode.flatten_parsed``."""
    from duckdb_otlp_spark.sources import flat_decode

    if mode not in _MODES:
        raise ValueError(f"unknown read mode {mode!r}; expected one of {_MODES}")
    if mode == "protobuf" or (mode == "auto"
                              and flat_decode.all_protobuf(spark, path)):
        return flat_decode.read_flat(spark, path, key, "protobuf")
    signal = flat_decode.FLATTENERS[key][1]
    return flat_decode.flatten_parsed(
        _load_envelopes(spark, path, signal, mode), key)


def read_otlp_logs(spark: SparkSession, path: str | list[str], mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_logs`` (reference: src/function/read_otlp.cpp:139-142)."""
    return _read(spark, path, mode, "logs")


def read_otlp_traces(spark: SparkSession, path: str | list[str], mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_traces`` (reference: src/function/read_otlp.cpp:144-147).

    ``duration_time_unix_nano`` = end − start in raw ns
    (reference: test/sql/read_otlp_json.test:55-60).
    """
    return _read(spark, path, mode, "traces")


def read_otlp_metrics_gauge(spark: SparkSession, path: str | list[str],
                            mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_gauge`` (reference: read_otlp.cpp:149-152)."""
    return _read(spark, path, mode, "metrics_gauge")


def read_otlp_metrics_sum(spark: SparkSession, path: str | list[str],
                          mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_sum`` (reference: read_otlp.cpp:154-157)."""
    return _read(spark, path, mode, "metrics_sum")


def read_otlp_metrics_histogram(spark: SparkSession, path: str | list[str],
                                mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_histogram`` (reference: read_otlp.cpp:177-181)."""
    return _read(spark, path, mode, "metrics_histogram")


def read_otlp_metrics_exp_histogram(spark: SparkSession, path: str | list[str],
                                    mode: str = "auto") -> DataFrame:
    """Equivalent of ``read_otlp_metrics_exp_histogram`` (reference: read_otlp.cpp:183-188)."""
    return _read(spark, path, mode, "metrics_exp_histogram")


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

    The streaming seal's parse for lines its strict parse refuses
    (sources/flat_decode.seal_files). Lax: malformed lines
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


READERS = {
    "logs": read_otlp_logs,
    "traces": read_otlp_traces,
    "metrics_gauge": read_otlp_metrics_gauge,
    "metrics_sum": read_otlp_metrics_sum,
    "metrics_histogram": read_otlp_metrics_histogram,
    "metrics_exp_histogram": read_otlp_metrics_exp_histogram,
}
