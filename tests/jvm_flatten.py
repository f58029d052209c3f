"""The JVM flatten: envelope rows parsed by ``from_json`` -> the six flat
tables, as Spark expressions (``explode`` plus higher-order functions
over the envelope struct). It is the tests' reference oracle for the
Python flatteners in ``duckdb_otlp_spark.sources.flat_decode``, which
replaced it in the program: parity tests run both over the same parsed
envelopes and compare rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_otlp_spark.sources.flat_decode import _ENUM_MAPS, _SEVERITY_NAMES
from duckdb_otlp_spark.sources.otlp_json import (
    _ANY_VALUE_DEPTH,
    _ATTRS,
    _memo,
)

_I64_MAX = 9223372036854775807


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


def flatten_logs(env: DataFrame) -> DataFrame:
    """Envelope rows (column ``env``) -> 18-col logs table.

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


FLATTEN = {
    "logs": flatten_logs,
    "traces": flatten_traces,
    "metrics_gauge": flatten_metrics_gauge,
    "metrics_sum": flatten_metrics_sum,
    "metrics_histogram": flatten_metrics_histogram,
    "metrics_exp_histogram": flatten_metrics_exp_histogram,
}
