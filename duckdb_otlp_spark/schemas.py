"""Output schemas for the six OTLP signal tables.

Column names / order / count transcribed from the reference's schema
documentation (reference: site/src/content/docs/reference/schemas.md:18-176)
and re-typed for Spark per the mapping decisions in SURVEY.md §1.4:

- ``TIMESTAMP_NS`` -> ``TimestampNTZType`` (Spark timestamps are µs-precision;
  the reference's own live-ingest tables make the identical compromise,
  schemas.md:182). Raw-nanosecond *durations* stay ``LongType``
  (reference: src/otlp_arrow.cpp:31-39 keeps duration ns as BIGINT).
- trace/span ids -> lowercase-hex ``StringType``
  (reference: src/otlp_arrow.cpp:86-94).
- attribute blobs -> JSON strings in ``StringType``
  (reference: schemas.md:181).
- ``BIGINT[]`` / ``DOUBLE[]`` -> ``ArrayType(LongType)`` / ``ArrayType(DoubleType)``.
- unsigned ints -> signed Integer/Long with overflow checks at parse time
  (reference: src/otlp_arrow.cpp:54-65).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype, nullable=True)


_STR = T.StringType()
_INT = T.IntegerType()
_LONG = T.LongType()
_DBL = T.DoubleType()
_BOOL = T.BooleanType()
# µs-precision, timezone-naive — matches DuckDB TIMESTAMP rendering for the oracle.
_TS = T.TimestampNTZType()


# reference: schemas.md:53-76 (18 columns)
LOGS_SCHEMA = T.StructType([
    _f("time_unix_nano", _TS),
    _f("observed_time_unix_nano", _TS),
    _f("trace_id", _STR),
    _f("span_id", _STR),
    _f("service_name", _STR),
    _f("service_namespace", _STR),
    _f("service_instance_id", _STR),
    _f("severity_number", _INT),
    _f("severity_text", _STR),
    _f("event_name", _STR),
    _f("body", _STR),
    _f("resource_attributes", _STR),
    _f("scope_name", _STR),
    _f("scope_version", _STR),
    _f("scope_attributes", _STR),
    _f("log_attributes", _STR),
    _f("dropped_attributes_count", _INT),
    _f("flags", _INT),
])

# reference: schemas.md:18-47 (24 columns)
TRACES_SCHEMA = T.StructType([
    _f("start_time_unix_nano", _TS),
    _f("duration_time_unix_nano", _LONG),
    _f("trace_id", _STR),
    _f("span_id", _STR),
    _f("parent_span_id", _STR),
    _f("trace_state", _STR),
    _f("service_name", _STR),
    _f("service_namespace", _STR),
    _f("service_instance_id", _STR),
    _f("name", _STR),
    _f("kind", _INT),
    _f("status_code", _INT),
    _f("status_status_message", _STR),
    _f("resource_attributes", _STR),
    _f("scope_name", _STR),
    _f("scope_version", _STR),
    _f("scope_attributes", _STR),
    _f("span_attributes", _STR),
    _f("events_json", _STR),
    _f("links_json", _STR),
    _f("dropped_attributes_count", _INT),
    _f("dropped_events_count", _INT),
    _f("dropped_links_count", _INT),
    _f("flags", _INT),
])

# reference: schemas.md:80-102 (17 columns)
METRICS_GAUGE_SCHEMA = T.StructType([
    _f("time_unix_nano", _TS),
    _f("start_time_unix_nano", _TS),
    _f("name", _STR),
    _f("description", _STR),
    _f("unit", _STR),
    _f("int_value", _LONG),
    _f("double_value", _DBL),
    _f("service_name", _STR),
    _f("service_namespace", _STR),
    _f("service_instance_id", _STR),
    _f("resource_attributes", _STR),
    _f("scope_name", _STR),
    _f("scope_version", _STR),
    _f("scope_attributes", _STR),
    _f("metric_attributes", _STR),
    _f("flags", _INT),
    _f("exemplars_json", _STR),
])

# reference: schemas.md:104-113 (19 columns = gauge + temporality + monotonic)
METRICS_SUM_SCHEMA = T.StructType(
    METRICS_GAUGE_SCHEMA.fields
    + [_f("aggregation_temporality", _INT), _f("is_monotonic", _BOOL)]
)

# reference: schemas.md:115-142 (22 columns)
METRICS_HISTOGRAM_SCHEMA = T.StructType([
    _f("time_unix_nano", _TS),
    _f("start_time_unix_nano", _TS),
    _f("name", _STR),
    _f("description", _STR),
    _f("unit", _STR),
    _f("count", _LONG),
    _f("sum", _DBL),
    _f("min", _DBL),
    _f("max", _DBL),
    _f("bucket_counts", T.ArrayType(_LONG)),
    _f("explicit_bounds", T.ArrayType(_DBL)),
    _f("service_name", _STR),
    _f("service_namespace", _STR),
    _f("service_instance_id", _STR),
    _f("resource_attributes", _STR),
    _f("scope_name", _STR),
    _f("scope_version", _STR),
    _f("scope_attributes", _STR),
    _f("metric_attributes", _STR),
    _f("flags", _INT),
    _f("exemplars_json", _STR),
    _f("aggregation_temporality", _INT),
])

# reference: schemas.md:144-176 (27 columns)
METRICS_EXP_HISTOGRAM_SCHEMA = T.StructType([
    _f("time_unix_nano", _TS),
    _f("start_time_unix_nano", _TS),
    _f("name", _STR),
    _f("description", _STR),
    _f("unit", _STR),
    _f("count", _LONG),
    _f("sum", _DBL),
    _f("min", _DBL),
    _f("max", _DBL),
    _f("scale", _INT),
    _f("zero_count", _LONG),
    _f("zero_threshold", _DBL),
    _f("positive_offset", _INT),
    _f("positive_bucket_counts", T.ArrayType(_LONG)),
    _f("negative_offset", _INT),
    _f("negative_bucket_counts", T.ArrayType(_LONG)),
    _f("service_name", _STR),
    _f("service_namespace", _STR),
    _f("service_instance_id", _STR),
    _f("resource_attributes", _STR),
    _f("scope_name", _STR),
    _f("scope_version", _STR),
    _f("scope_attributes", _STR),
    _f("metric_attributes", _STR),
    _f("flags", _INT),
    _f("exemplars_json", _STR),
    _f("aggregation_temporality", _INT),
])

SIGNAL_SCHEMAS: dict[str, T.StructType] = {
    "logs": LOGS_SCHEMA,
    "traces": TRACES_SCHEMA,
    "metrics_gauge": METRICS_GAUGE_SCHEMA,
    "metrics_sum": METRICS_SUM_SCHEMA,
    "metrics_histogram": METRICS_HISTOGRAM_SCHEMA,
    "metrics_exp_histogram": METRICS_EXP_HISTOGRAM_SCHEMA,
}

# The six live-ingest table names (reference: src/otlp_server.cpp:65-72).
TARGET_TABLES: dict[str, str] = {
    "logs": "otlp_logs",
    "traces": "otlp_traces",
    "metrics_gauge": "otlp_metrics_gauge",
    "metrics_sum": "otlp_metrics_sum",
    "metrics_histogram": "otlp_metrics_histogram",
    "metrics_exp_histogram": "otlp_metrics_exp_histogram",
}


def partition_ts(table: str) -> str:
    """The timestamp column a live-ingest table's year/month/day export
    partitions come from (reference: src/otlp_server.cpp:105-110)."""
    return "start_time_unix_nano" if table == "otlp_traces" else "time_unix_nano"
